"""Seeded, pinned workload inputs.

A seed names a window of row indices into the synthetic corpora:
rows ``[w * n, w * n + n)`` of ``synth.make_row(i, "cc")`` or
``synth.make_web_row(i)``, with ``w = seed % SEED_WINDOWS`` (row
timestamps grow with ``i`` and must stay below year 9999). The rows are hashed before anything runs
and the digest must match the one pinned in ``pinned.json`` for that
(workload, seed), so a change to ``sources/synth.py`` cannot silently
change what a workload measures.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "pinned.json")

#: workload -> (corpus, docs per pass, untimed warm-up passes over the
#: whole input). Passes keep getting faster for several passes after a
#: cold start; the warm-up passes take them to their plateau.
WORKLOADS = {
    "web_extract": ("web", 2000, 1),
    "job_e2e": ("cc", 400, 1),
}


SEED_WINDOWS = 1_000_000


class DigestMismatch(RuntimeError):
    pass


def load_pinned() -> dict:
    with open(PINNED, encoding="utf-8") as fh:
        return json.load(fh)


def make_rows(workload: str, seed: int) -> list[dict]:
    from ocr_spark.sources import synth
    corpus, n, _ = WORKLOADS[workload]
    start = (seed % SEED_WINDOWS) * n
    if corpus == "web":
        return [synth.make_web_row(i) for i in range(start, start + n)]
    return [synth.make_row(i, "cc") for i in range(start, start + n)]


def digest(rows: list[dict]) -> str:
    """sha256 over every field of every row, length-prefixed, in order."""
    h = hashlib.sha256()
    for r in rows:
        for key in ("url", "warc_ts", "html", "text", "lang", "meta"):
            v = r.get(key)
            if v is None:
                b = b"\xff"
            elif isinstance(v, bytes):
                b = v
            elif isinstance(v, str):
                b = v.encode("utf-8")
            else:
                b = v.isoformat().encode()
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def check_digest(workload: str, seed: int, got: str, pinned: dict) -> bool:
    """True if the seed is pinned and matches; False if the seed is not
    pinned; raises DigestMismatch if it is pinned and differs."""
    want = pinned["digests"].get(workload, {}).get(str(seed))
    if want is None:
        return False
    if want != got:
        raise DigestMismatch(
            f"{workload} seed {seed}: input digest {got} != pinned {want}; "
            "the synthetic corpus changed, so this is no longer the same "
            "workload")
    return True


def write_parquet(rows: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocr_spark import schemas
    schema = to_arrow_schema(schemas.INPUT_SCHEMA)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, "part-00000.parquet"))


def _digest_of(job: tuple[str, int]) -> str:
    return digest(make_rows(*job))


def pin(seeds: list[int], processes: int = 4) -> dict:
    """Recompute the digests of ``seeds`` for every workload and store
    them in pinned.json (keeps the other entries)."""
    import multiprocessing
    pinned = load_pinned()
    jobs = [(w, s) for w in WORKLOADS for s in seeds]
    with multiprocessing.get_context("spawn").Pool(processes) as pool:
        digests = pool.map(_digest_of, jobs, chunksize=4)
    for (w, s), d in zip(jobs, digests):
        pinned["digests"].setdefault(w, {})[str(s)] = d
    for w, table in pinned["digests"].items():
        pinned["digests"][w] = dict(sorted(table.items(),
                                           key=lambda kv: int(kv[0])))
    with open(PINNED, "w", encoding="utf-8") as fh:
        json.dump(pinned, fh, indent=1)
        fh.write("\n")
    return pinned

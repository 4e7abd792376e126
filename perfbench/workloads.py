"""Workload protocols: warm-up, timed passes and correctness checks.

Every workload is closed-loop: one driver process, one pass at a time,
nothing else running on the Spark session.

* ``web_extract``: ``plans.pipeline.run_extraction`` over the seeded
  input parquet, written back as parquet. Every pass's output is
  checked row by row against ``operators.cascade.extract_record``
  called in-process on the same rows.
* ``job_e2e``: ``job.main --input <parquet> --curate --write-wet`` into
  a fresh table root per pass. Checked by its own accounting: every
  input row committed (and equal to the in-process reference), one WET
  record per committed row, and the same curate funnel on every pass.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

import proctree



@dataclass
class Context:
    spark: object
    work: str
    rows: list[dict]
    input_path: str
    root_pid: int = field(default_factory=os.getpid)


# -- reference ---------------------------------------------------------------

_SLOTS = ("quality", "salary", "bank", "itr", "aadhaar", "pan", "dl",
          "employee", "appointment", "webpage")


def classify_row(row: dict) -> tuple[str, str]:
    """(doc_type, password) the way ``pipeline.classify`` derives them:
    metadata JSON first, else the url's second-to-last path segment."""
    from ocr_spark.plans.pipeline import DOC_TYPE_PATTERN
    meta = json.loads(row["meta"]) if row.get("meta") else {}
    m = re.search(DOC_TYPE_PATTERN, row["url"])
    doc_type = meta.get("doc_type") or (m.group(1) if m else "")
    return doc_type, meta.get("password") or ""


@dataclass
class Reference:
    """In-process single-thread ``extract_record`` over the input."""
    rows: dict[str, tuple]
    us_per_doc: float
    us_by_type: dict[str, float]
    errors: int


def _comparable(records: list[dict]) -> list[tuple]:
    """Per-row tuples of the compared output columns, with the struct
    slots passed through the EXTRACT_SCHEMA Arrow types so the values
    compare exactly as parquet returns them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocr_spark import schemas
    schema = to_arrow_schema(schemas.EXTRACT_SCHEMA)
    cols = [[r[k] for r in records]
            for k in ("doc_type", "extracted_text", "error", "input_bytes")]
    cols += [pa.array([r[s] for r in records],
                      type=schema.field(s).type).to_pylist() for s in _SLOTS]
    return list(zip(*cols))


def reference(rows: list[dict]) -> Reference:
    from ocr_spark.operators.cascade import extract_record
    out, by_type, n_type = [], {}, {}
    t_all = 0.0
    for row in rows:
        doc_type, password = classify_row(row)
        t0 = time.perf_counter()
        rec = extract_record(row["url"], row["html"], row["text"] or "",
                             doc_type, password)
        dt = time.perf_counter() - t0
        t_all += dt
        by_type[doc_type] = by_type.get(doc_type, 0.0) + dt
        n_type[doc_type] = n_type.get(doc_type, 0) + 1
        html = row["html"]
        rec["input_bytes"] = len(html) if html is not None else 0
        out.append(rec)
    keyed = dict(zip((r["url"] for r in out), _comparable(out)))
    return Reference(
        rows=keyed, us_per_doc=1e6 * t_all / len(rows),
        us_by_type={k: 1e6 * v / n_type[k] for k, v in by_type.items()},
        errors=sum(r["error"] is not None for r in out))


def wrong_rows(out_dir: str, ref: Reference) -> int:
    """Rows of the parquet output at ``out_dir`` that are missing,
    duplicated, unexpected or different from the reference."""
    import pyarrow.parquet as pq
    cols = ["url", "doc_type", "extracted_text", "error", "input_bytes",
            *_SLOTS]
    got = pq.read_table(out_dir, columns=cols).to_pylist()
    seen: set[str] = set()
    wrong = 0
    for url, row in zip((r["url"] for r in got), _comparable(got)):
        if url in seen or ref.rows.get(url) != row:
            wrong += 1
        seen.add(url)
    return wrong + len(ref.rows.keys() - seen)


# -- passes ------------------------------------------------------------------

def extract_pass(spark, in_path: str, out_path: str) -> None:
    from ocr_spark.plans.pipeline import run_extraction
    (run_extraction(spark, spark.read.parquet(in_path))
     .write.mode("overwrite").parquet(out_path))


def job_argv(in_path: str, d: str) -> list[str]:
    return ["--input", in_path, "--table", f"{d}/table",
            "--curate", f"{d}/curate", "--write-wet", f"{d}/wet"]


def job_pass(spark, in_path: str, d: str) -> dict:
    from ocr_spark import job
    with contextlib.redirect_stdout(io.StringIO()):  # job prints its summary
        return job.main(job_argv(in_path, d), spark=spark)


def job_counts(summary: dict) -> dict:
    return {"committed_rows": summary["committed_rows"],
            "wet_records": summary["write_wet"]["records"],
            "funnel": {k: v["out"] for k, v in summary["curate"].items()}}


def job_committed_dir(d: str, run_id: str) -> str:
    from ocr_spark.sources.snapshot import SnapshotTable
    return SnapshotTable(f"{d}/table").run_dir(run_id)


@dataclass
class Timed:
    walls: list[float]
    cpus: list[float]
    peak_rss: int
    attempted: int
    failed: int


def _loop(ctx: Context, seconds: float, min_passes: int, one_pass,
          after_pass) -> Timed:
    """Timed passes until ``seconds`` have passed and at least
    ``min_passes`` have run. ``after_pass(k)`` runs outside the clock."""
    walls, cpus = [], []
    sampler = proctree.PeakRss(ctx.root_pid).start()
    deadline = time.perf_counter() + seconds
    try:
        k = 0
        while k < min_passes or time.perf_counter() < deadline:
            c0 = proctree.tree_usage(ctx.root_pid)[0]
            t0 = time.perf_counter()
            one_pass(k)
            walls.append(time.perf_counter() - t0)
            cpus.append(proctree.tree_usage(ctx.root_pid)[0] - c0)
            after_pass(k)
            k += 1
    finally:
        peak = sampler.stop()
    return Timed(walls, cpus, peak, 0, 0)


class Extract:
    def __init__(self, ctx: Context, ref: Reference):
        self.ctx, self.ref = ctx, ref

    def out(self, k) -> str:
        return os.path.join(self.ctx.work, "out", str(k))

    def warm_up(self) -> None:
        extract_pass(self.ctx.spark, self.ctx.input_path, self.out("warm"))
        shutil.rmtree(self.out("warm"))

    def timed(self, seconds: float, min_passes: int) -> Timed:
        failed = 0

        def after(k):
            nonlocal failed
            failed += wrong_rows(self.out(k), self.ref)
            shutil.rmtree(self.out(k))

        t = _loop(self.ctx, seconds, min_passes,
                  lambda k: extract_pass(self.ctx.spark, self.ctx.input_path,
                                         self.out(k)), after)
        t.attempted = len(self.ref.rows) * len(t.walls)
        t.failed = failed
        return t


class Job:
    def __init__(self, ctx: Context, ref: Reference):
        self.ctx, self.ref = ctx, ref

    def dir(self, k) -> str:
        return os.path.join(self.ctx.work, "job", str(k))

    def warm_up(self) -> None:
        self.last_warm = job_pass(self.ctx.spark, self.ctx.input_path,
                                  self.dir("warm"))
        shutil.rmtree(self.dir("warm"))

    def timed(self, seconds: float, min_passes: int) -> Timed:
        n = len(self.ctx.rows)
        counts, failed = [], 0

        def one(k):
            counts.append(job_pass(self.ctx.spark, self.ctx.input_path,
                                   self.dir(k)))

        def after(k):
            nonlocal failed
            s = counts[k]
            c = job_counts(s)
            ok = (s["processed"] == n and c["committed_rows"] == n
                  and c["wet_records"] == c["committed_rows"]
                  and c["funnel"] == job_counts(self.last_warm)["funnel"]
                  and wrong_rows(job_committed_dir(self.dir(k), s["run_id"]),
                                 self.ref) == 0)
            failed += 0 if ok else n
            shutil.rmtree(self.dir(k))

        t = _loop(self.ctx, seconds, min_passes, one, after)
        t.attempted = n * len(t.walls)
        t.failed = failed
        return t

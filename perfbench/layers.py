"""The traced pass and the per-layer metrics built from it.

Each layer call runs under its own job group (prefix ``t.``), so the
event-log parse splits task metrics by layer. For ``job_e2e`` the
traced pass calls ``run_with_checkpoint``, ``warc.write_wet`` and
``curate.curate`` directly, with the arguments ``job.main`` derives
from the same command line, and times each curate ``materialize=``
boundary. Single-thread kernel costs are measured in-process.
"""

from __future__ import annotations

import time

import eventlog
import workloads

PREFIX = "t."
MB = 1 << 20
#: curate's funnel stages without the optional repair/decontam ones,
#: which job.main runs only on request.
FUNNEL_STAGES = ("input", "scrub", "clean", "lang", "gopher", "c4",
                 "exact_dedup", "neardup")


class Groups:
    """Wall time per job group; ``enter`` switches the active group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, float] = {}

    def enter(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(PREFIX + name, name)

    def timed(self, name: str, fn, *args):
        self.enter(name)
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.walls[name] = self.walls.get(name, 0.0) + time.perf_counter() - t0
            self.enter(None)


def traced_extract(ctx: workloads.Context) -> tuple[float, dict]:
    g = Groups(ctx.spark)
    out = f"{ctx.work}/traced"
    g.timed("extract", workloads.extract_pass, ctx.spark, ctx.input_path, out)
    return g.walls["extract"], {"out": out, "walls": g.walls}


def traced_job(ctx: workloads.Context) -> tuple[float, dict]:
    from pyspark.sql import functions as F

    from ocr_spark import job
    from ocr_spark.operators import curate as curate_ops
    from ocr_spark.sources import warc as warc_mod
    from ocr_spark.sources.snapshot import SnapshotTable, run_with_checkpoint

    spark = ctx.spark
    args = job._parse(workloads.job_argv(ctx.input_path, f"{ctx.work}/traced"))
    table = SnapshotTable(args.table)
    g = Groups(spark)
    t0 = time.perf_counter()

    def ingest():
        prev = table.current_snapshot()
        run_id = f"run-{(prev['sequence'] if prev else 0) + 1:06d}"
        run_with_checkpoint(spark, spark.read.parquet(args.input), args.table,
                            run_id=run_id, num_partitions=args.partitions)
        return run_id

    run_id = g.timed("ingest", ingest)
    committed_rows = table.current_snapshot()["committed_rows"]

    def wet():
        pages = table.read(spark).select(
            "url", "warc_ts", F.col("extracted_text").alias("text"), "lang")
        warc_mod.write_wet(pages, f"{args.write_wet}/segments",
                           num_segments=args.wet_segments)\
            .write.mode("overwrite").parquet(f"{args.write_wet}/manifest")
        return spark.read.parquet(f"{args.write_wet}/manifest").agg(
            F.sum("n_records").alias("records"),
            F.sum("n_bytes").alias("bytes")).first()

    man = g.timed("wet", wet)

    def materialize(df, name):
        p = f"{args.curate}/stage_{name}"
        g.timed(f"curate.{name}", df.write.mode("overwrite").parquet, p)
        g.enter("curate.between")
        return spark.read.parquet(p)

    def decisions(res):
        res["decisions"].write.mode("overwrite").parquet(f"{args.curate}/decisions")
        dec = spark.read.parquet(f"{args.curate}/decisions")
        (dec.filter("final_keep")
         .select("url", F.col("curated_text").alias("extracted_text"))
         .write.mode("overwrite").parquet(f"{args.curate}/survivors"))
        curate_ops.funnel_counts(dec, with_repair=args.curate_repair)\
            .write.mode("overwrite").parquet(f"{args.curate}/funnel")
        return {r["stage"]: r["docs_out"] for r in
                spark.read.parquet(f"{args.curate}/funnel")
                .orderBy("stage_idx").collect()}

    t_curate = time.perf_counter()
    g.enter("curate.between")
    res = curate_ops.curate(
        table.read(spark), text_col="extracted_text", id_col="url",
        keep_langs=tuple(c.strip() for c in args.lang_keep.split(",")
                         if c.strip()),
        c4_bad_words=tuple(w.strip() for w in
                           (args.c4_bad_words or "").split(",") if w.strip()),
        repair_lines=args.curate_repair, max_bucket=args.neardup_max_bucket,
        benchmark=None, decontam_ngram=args.decontam_ngram,
        decontam_min_hits=args.decontam_min_hits, materialize=materialize)
    funnel = g.timed("curate.decisions", decisions, res)
    curate_s = time.perf_counter() - t_curate
    wall = time.perf_counter() - t0
    stage_s = sum(v for k, v in g.walls.items() if k.startswith("curate."))
    g.walls["curate.unattributed"] = curate_s - stage_s
    counts = {"committed_rows": committed_rows,
              "wet_records": int(man["records"] or 0), "funnel": funnel}
    return wall, {"walls": g.walls, "counts": counts,
                  "wet_mb": int(man["bytes"] or 0) / MB,
                  "committed_dir": table.run_dir(run_id)}


# -- in-process single-thread kernels ----------------------------------------

def udfs_us_per_doc(rows: list[dict], input_path: str) -> float:
    """``functions.udfs.extract_arrow_batches`` over the input batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.functions.udfs import extract_arrow_batches
    table = pq.read_table(input_path)
    dp = [workloads.classify_row(r) for r in rows]
    table = (table.append_column("doc_type", pa.array([d for d, _ in dp]))
             .append_column("password", pa.array([p for _, p in dp])))
    batches = table.to_batches(max_chunksize=1024)
    t0 = time.perf_counter()
    n = sum(b.num_rows for b in extract_arrow_batches(iter(batches), "trace"))
    return 1e6 * (time.perf_counter() - t0) / n


def htmltext_us_per_page(rows: list[dict]) -> float:
    """``textlib.htmltext.extract_main`` over the markup of the webpage
    rows (0 when the input has none)."""
    from ocr_spark.textlib import charset, htmltext
    pages = [charset.sniff_decode(r["html"])[0] for r in rows
             if r["html"] and workloads.classify_row(r)[0] == "webpage"]
    pages = [p for p in pages if p]
    if not pages:
        return 0.0
    t0 = time.perf_counter()
    for p in pages:
        htmltext.extract_main(p)
    return 1e6 * (time.perf_counter() - t0) / len(pages)


# -- layer metrics -------------------------------------------------------------

def layer_metrics(*, totals: dict, ref: workloads.Reference,
                  n_docs: int, cpus: int, traced_wall: float, info: dict,
                  udfs_us: float, html_us: float,
                  doc_types: tuple[str, ...], is_job: bool) -> dict:
    """Every per-layer metric, 0 where the workload has no such layer."""
    whole = eventlog.merged(totals, PREFIX)
    salt = eventlog.merged(totals, PREFIX + ("ingest" if is_job else "extract"))
    # Extraction parallel efficiency: docs/s of the extraction pass (the
    # ingest stage within job_e2e) over cores x single-thread rate.
    jw = info["walls"]
    docs_per_s = n_docs / jw["ingest" if is_job else "extract"]
    job = info if is_job else {"counts": {"funnel": {}}, "wet_mb": 0.0}
    jc = job["counts"]
    m = {
        "pipeline.salt.shuffle_write_mb": salt.shuffle_write_mb,
        "pipeline.salt.shuffle_write_s": salt.shuffle_write_s,
        "pipeline.salt.shuffle_read_mb": salt.shuffle_read_mb,
        "pipeline.salt.fetch_wait_s": salt.fetch_wait_s,
        "pipeline.salt.skew": salt.skew(),
        "pipeline.parallel_eff": docs_per_s * udfs_us / (1e6 * cpus),
        **{f"udfs.{k}": v for k, v in whole.py.items()},
        "udfs.us_per_doc": udfs_us,
        "cascade.us_per_doc": ref.us_per_doc,
        **{f"cascade.us_per_doc.{t}": ref.us_by_type.get(t, 0.0)
           for t in doc_types},
        "cascade.error_frac": ref.errors / len(ref.rows),
        "htmltext.us_per_page": html_us,
        "executor.run_s": whole.run_s,
        "executor.cpu_s": whole.cpu_s,
        "executor.gc_s": whole.gc_s,
        "executor.spill_mb": whole.spill_mb,
        "executor.tasks": whole.tasks,
        "executor.failed_tasks": whole.failed_tasks,
        "scan.input_mb": whole.input_mb,
        "write.output_mb": whole.output_mb,
        "trace.wall_s": traced_wall,
    }
    m.update({
        "snapshot.ingest_s": jw.get("ingest", 0.0),
        "snapshot.committed_rows": jc.get("committed_rows", 0),
        "warc.write_wet_s": jw.get("wet", 0.0),
        "warc.wet_records": jc.get("wet_records", 0),
        "warc.wet_mb": job["wet_mb"],
        **{f"curate.{s}_s": jw.get(f"curate.{s}", 0.0)
           for s in ("scrubbed", "cleaned", "signals", "decisions",
                     "unattributed")},
        **{f"curate.funnel.{s}.docs_out": jc["funnel"].get(s, 0)
           for s in FUNNEL_STAGES},
    })
    return m

"""SparkSession factory with scale-oriented defaults.

The same config block is what we'd ship to a 1000-executor cluster via
spark-submit --conf; local[k] only swaps the master.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def build_session(app_name: str = "ocr_spark", master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    slots = _local_slots(master) or cpus
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting. Explicit salting
        # (plans/pipeline.py) still handles UDF-stage blob skew, which AQE
        # cannot see (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Rows carry multi-MB html blobs, but giant blobs are salted into
        # their own buckets (plans/pipeline.py) so a batch realistically
        # holds at most a few of them: 1024 rows x ~6 KB typical + ~2
        # isolated giants ~= 7 MB/batch. Larger batches matter for
        # scaling: per-batch IPC/conversion overhead is serialized per
        # worker, so 4x fewer batches directly widens the parallel
        # fraction (measured on the scaling bench).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "1024"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Target split size for the scan; at 100 TB this yields ~800k
        # input splits — Spark handles millions of tasks fine.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # InferFiltersFromGenerate synthesizes `size(e)>0 AND e IS NOT
        # NULL` under every explode/posexplode; predicate pushdown then
        # inlines the generator input's FULL expression tree into a
        # Filter that sinks below every projection and exchange — for
        # the LSH operators (posexplode over expression-built signature
        # arrays) that re-evaluated the whole interpreted signature
        # pipeline per row on the scan side, single-threaded on a
        # one-file scan: measured 210s vs 10s on the sf0.1
        # ngram_jaccard_pairs bench. Our generators never see empty or
        # null arrays by construction, so the rule only costs.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # In local[k] ONE JVM hosts all k task slots, so the heap must
        # be sized per slot of the master actually started (a caller's
        # local[k] wins over SPARK_GRAFT_CPUS) like a real executor's:
        # 0.75 GB/slot here ~= a lean 4-core/3 GB executor. 8g for 32
        # slots (0.25 GB/slot) tipped long bench sessions into full-GC
        # thrash: measured 682 full GCs = 43 s of GC inside one 81 s
        # scrub rep, walls 17.6 s <-> 236 s bimodal; at 24g the same
        # rep runs 17.6 s with ZERO full GCs.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{slots * 768}m"))
        # Generated classes are cached by source text, JVM-wide, in a
        # segmented LRU. At the default 100 entries every repeat of a
        # flow in a live session recompiled, and HotSpot re-JITted the
        # new bytecode. Compilations per repeat on local[4], at 100 ->
        # at 1000 entries: a later stream_curate micro-batch 21 -> 0;
        # a warm job.main --input --curate --write-wet pass 136-145 ->
        # 0; one session repeating that pass, the full curation chain
        # (--partition-by --neardup --dedup-apply --quality-filter) and
        # two waves of stream_extract, stream_curate and stream_neardup
        # ~790 per round -> 6-7. That session's first round compiles
        # ~400 distinct classes; AQE may fuse a broadcast join into a
        # different stage from pass to pass, so a few variants of a
        # class coexist. 1000 leaves ~2.5x headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_slots(master: str) -> int | None:
    """Task slots of a local[k] master; None for any other master."""
    m = re.fullmatch(r"local\[(\d+)\]", master)
    return int(m[1]) if m else None


# Shuffle/spill scratch on RAM-backed tmpfs for benchmarks. On this
# single-virtio-disk sandbox VM, shuffle+output writeback through /tmp
# couples all executor threads on the block layer (measured: systemwide
# 85-95%% sys-time stalls and 3-16x bimodal walls above ~8 workers; all
# of it vanishes with tmpfs scratch). A real cluster gives each node its
# own local NVMe, which scales with node count — RAM scratch is the
# faithful single-box stand-in.
TMPFS_SCRATCH = {"spark.local.dir": "/dev/shm/spark-local"}

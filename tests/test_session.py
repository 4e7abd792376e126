"""Warm-session set-up: what a live session and a reused Python worker
re-pay per micro-batch or task, and how the session is sized."""

import datetime as dt
import zipimport

import pytest

from ocr_spark import schemas
from ocr_spark.session import _local_slots
from ocr_spark.sources import synth


@pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                    reason="this interpreter re-reads zip directories "
                           "lazily")
def test_reused_worker_skips_zip_directory_reads(spark):
    """Every task after a worker's first reads no zip central directory:
    the archives on its sys.path never change while it lives. The first
    task in each worker installs a counter around
    ``zipimport._read_directory``; every later task in that worker
    reports the reads since the previous one (~16 per task when each
    task's ``importlib.invalidate_caches`` re-reads pyspark.zip)."""
    import pyarrow as pa

    def probe(batches):
        import os
        import zipimport

        import ocr_spark  # noqa: F401 — the package's worker-side import

        if not hasattr(zipimport, "_reads_since"):
            read = zipimport._read_directory

            def counting(path):
                zipimport._reads_since += 1
                return read(path)
            zipimport._read_directory = counting
            reads = -1  # first task seen by this worker
        else:
            reads = zipimport._reads_since
        zipimport._reads_since = 0
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"pid": [os.getpid()], "reads": [reads]})

    # Idle workers are reused round-robin, so a dozen one-task jobs
    # revisit at least one worker. collect() drains each task's output;
    # a worker whose output is left unread (first()) is not reused.
    seen = [spark.range(1, numPartitions=1)
            .mapInArrow(probe, "pid long, reads long").collect()[0]
            for _ in range(12)]
    repeats = [r["reads"] for r in seen if r["reads"] >= 0]
    assert repeats, f"no worker ran two tasks: {seen}"
    assert repeats == [0] * len(repeats), seen


def test_driver_zip_caches_untouched():
    """Outside a Spark task the package leaves zipimport alone."""
    import ocr_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__qualname__ \
        == "zipimporter.invalidate_caches"


@pytest.mark.parametrize("master,slots", [
    ("local[4]", 4), ("local[32]", 32), ("spark://h:7077", None)])
def test_driver_heap_slots_follow_master(master, slots):
    """The default driver heap counts the slots of the local[k] master
    the session starts; other masters fall back to SPARK_GRAFT_CPUS."""
    assert _local_slots(master) == slots


def test_stream_curate_later_batches_compile_no_new_classes(spark,
                                                            tmp_path):
    """Micro-batches after the first two (the first has no committed
    table to anti-join) find every generated class in the codegen
    cache; at the default cache size each 50-doc batch recompiled
    17-21 classes.
    As in the warm job pass test, a batch may meet one new AQE plan
    shape, so one of three later batches must compile nothing."""
    from ocr_spark.streaming.jobs import stream_curate

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    in_dir, ts = str(tmp_path / "in"), dt.datetime(2026, 3, 1)

    def drain(wave):
        rows = [(f"https://s.local/{wave}/{i}", ts, None,
                 "\n".join(synth.web_paragraphs(wave * 50 + i)), "en", None)
                for i in range(50)]
        spark.createDataFrame(rows, schema=schemas.INPUT_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(in_dir)
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        stream_curate(spark, in_dir, str(tmp_path / "t"),
                      str(tmp_path / "ck"))
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    drain(0)
    drain(1)
    counts = []
    while len(counts) < 3 and 0 not in counts:
        counts.append(drain(2 + len(counts)))
    assert 0 in counts, counts

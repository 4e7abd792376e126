"""ocr_spark — a PySpark-native document-extraction analytics engine.

A brand-new implementation (NOT a port) of the per-document extraction and
verification capabilities of the reference service `Aashish23092/ocr`,
re-expressed as a distributed batch pipeline over a Common-Crawl-style table

    (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

with Arrow-vectorized pandas UDFs for the scan-order parsers, Catalyst
column expressions for everything regex-mappable, explicit url-hash
salting for skew, per-partition lineage + metrics, and snapshot-checkpoint
idempotent resume.

Layout:
  textlib/    pure-Python parser core (exact reference semantics, no Spark)
  functions/  Catalyst expression forms + Arrow UDF wrappers
  operators/  extraction, cross-check joins, dedup, similarity, text stats
  sources/    synthetic input generator, payload codec, snapshot manifest
  plans/      end-to-end job assembly
"""

EXTRACTOR_VERSION = "0.1.0"


def _keep_worker_zip_directories() -> None:
    """Stop a Python worker re-reading its zip archives on every task.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Up to CPython 3.12
    each ``zipimporter`` then eagerly re-reads its archive's whole
    central directory: a worker holds 16 of them over pyspark.zip's 1328
    entries, 150-185 ms of CPU per task on Python 3.11 (4-vCPU VM). The
    archives on a worker's ``sys.path`` (pyspark.zip, py4j and
    Spark-shipped py-files, which Spark never overwrites) do not change
    while the worker lives, so the re-read is dropped there. New archives
    still get a fresh zipimporter, and newer interpreters, which re-read
    lazily, are left alone. The driver and non-Spark processes are
    untouched: only a process with an active ``TaskContext`` is a worker.
    """
    import sys
    import zipimport

    if "pyspark" not in sys.modules or hasattr(zipimport.zipimporter,
                                               "_get_files"):
        return
    from pyspark.taskcontext import TaskContext
    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = lambda self: None


_keep_worker_zip_directories()

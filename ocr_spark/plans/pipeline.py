"""End-to-end extraction job assembly.

read -> classify (expression) -> salt/repartition (explicit skew
handling) -> mapInArrow extract -> output + metrics.

Scale notes (designed for 10^12 docs / 100 TB, tested on local[32]):
  * doc_type classification is a Catalyst expression on `url`, so text-
    only downstream queries prune the `html` blob column at the Parquet
    scan (verify with .explain: ReadSchema excludes html).
  * Salting: normal rows bucket by xxhash64(url) % P; giant blobs get a
    per-url salt so a burst of multi-MB documents spreads individually
    instead of clumping into one task (AQE cannot rebalance inside a
    Python UDF stage — SURVEY.md §4).
  * Metrics derive from the extraction output via partial aggregation
    (map-side combine), not a second scan of the input.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import EXTRACTOR_VERSION, schemas
from ..functions.udfs import make_extractor

# Blobs at/above this size are salted individually (synth giant blobs are
# 2 MB; the reference caps uploads at 10 MB, config/config.go:25).
GIANT_BLOB_THRESHOLD = 1_000_000

# doc_type is the second-to-last path segment of the url.
DOC_TYPE_PATTERN = r"/([a-z_]+)/[^/]*$"


def classify(df: DataFrame) -> DataFrame:
    """Derive doc_type + password — pure expressions, no UDF.

    doc_type: the metadata JSON channel wins when present (ref
    service/income_service.go:43-46 parses per-file DocumentMeta), else
    the url path segment (mirroring the extension/endpoint dispatch,
    ref service/income_service.go:137, main.go:85-121).
    password: from the same metadata channel (ref dto/models.go:15,
    threaded into PDF decrypt at service/income_service.go:141,151 /
    service/pdf_processor.go:34-60); '' when absent.
    """
    if "meta" not in df.columns:
        df = df.withColumn("meta", F.lit(None).cast("string"))
    m = F.from_json("meta", schemas.META_TYPE)
    return (
        df.withColumn(
            "doc_type",
            F.coalesce(F.nullif(m["doc_type"], F.lit("")),
                       F.regexp_extract("url", DOC_TYPE_PATTERN, 1)))
        .withColumn("password", F.coalesce(m["password"], F.lit("")))
    )


def salt_partitions(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit url-hash salting with giant-blob isolation (north_rule).

    The salt domain is num_partitions * 256 buckets, NOT num_partitions:
    repartition() hash-partitions the salt *value*, so a salt domain
    equal to the partition count collides (birthday problem — ~37% of
    partitions would stay empty while others get 2-3 buckets). A 256x
    oversized domain smooths occupancy to ~256 buckets/partition
    (relative partition-size stddev ~ 1/sqrt(256) = 6%).
    Giant blobs salt per-url so a burst of multi-MB documents spreads
    individually instead of clumping.

    Each partition is then sorted by url (ties broken on the other
    columns, in column order): rows reach a shuffle reader in whatever
    order the map outputs arrive, and the extractor numbers
    ``row_in_partition`` in arrival order, so without the sort the same
    input could commit different lineage values. The sort runs inside
    the partition and adds no exchange.
    """
    salt = (
        F.when(F.length("html") >= GIANT_BLOB_THRESHOLD,
               F.concat(F.lit("giant:"), F.col("url")))
        .otherwise(F.pmod(F.xxhash64("url"),
                          F.lit(num_partitions * 256)).cast("string"))
    )
    order = ["url"] + [c for c in df.columns if c != "url"]
    return (df.withColumn("_salt", salt)
            .repartition(num_partitions, "_salt")
            .sortWithinPartitions(*order).drop("_salt"))


def run_extraction(spark: SparkSession, input_df: DataFrame,
                   run_id: str | None = None,
                   num_partitions: int | None = None) -> DataFrame:
    """The flagship job: classified, salted, Arrow-extracted documents."""
    run_id = run_id or uuid.uuid4().hex[:12]
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2

    df = classify(input_df)
    # meta is fully parsed into doc_type/password expressions — drop it
    # so the JSON blob doesn't ride the salt shuffle + Arrow boundary.
    df = salt_partitions(df.drop("meta"), num_partitions)
    return df.mapInArrow(make_extractor(run_id), schema=schemas.EXTRACT_SCHEMA)


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition counters (north_rule metrics table): built by partial
    aggregation over the extraction output."""
    per_type = (
        extracted.groupBy("run_id", "partition_id", "doc_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("nf"),
             F.sum("input_bytes").alias("nb"))
    )
    return (
        per_type.groupBy("run_id", "partition_id")
        .agg(F.sum("n").alias("docs_total"),
             F.sum("nf").alias("docs_failed"),
             F.sum("nb").alias("bytes_total"),
             F.to_json(
                 F.map_from_entries(
                     F.array_sort(F.collect_list(F.struct("doc_type", "n"))))
             ).alias("by_doc_type"))
        .withColumn("extractor_version", F.lit(EXTRACTOR_VERSION))
    )

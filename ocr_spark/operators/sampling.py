"""Deterministic corpus sampling under a token budget.

Cutting a reproducible N-token subcorpus out of a cleaned crawl is the
last step before training-mix assembly (public practice: C4/Pile/Dolma
all publish fixed-token subsets). The sampler ranks documents by a
salted uniform hash of their id (reproducible, order-independent,
unbiased) and keeps them in hash order until the cumulative token
count reaches the budget.

Scale shape — the naive version is a GLOBAL ordered cumsum, i.e. a
one-partition window over 10^12 rows. Instead:

  1. bucket each doc by the top bits of its hash key (arithmetic
     shift, so bucket order == key order) — one hash aggregation
     gives per-bucket token sums (4096 tiny rows);
  2. prefix-sum those 4096 rows DRIVER-side to find the boundary
     bucket and the budget remainder entering it;
  3. buckets before the boundary are kept whole with a plain filter
     (no shuffle beyond the agg); ONLY the boundary bucket — 1/4096
     of the corpus — pays an ordered window cumsum.

The result is bit-identical to the global-window definition (bucket
boundaries respect key order; within-bucket ordering matches the
global (key, id) order), which is exactly what the DuckDB oracle
replays with a plain window at test scale.

``hash_mode='md5'`` ranks by the md5 hex string instead of xxhash64 —
the DuckDB-expressible family, same convention as the LSH operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import check_hash_mode
from .textstats import token_count

N_BUCKETS_BITS = 12  # 4096 buckets: driver prefix is trivial,
#                      boundary window sees ~1/4096 of the corpus.


def _rank_key(id_col: str, salt: int, hash_mode: str):
    check_hash_mode(hash_mode, ("xxhash64", "md5"))
    sid = F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}"))
    if hash_mode == "md5":
        # Hex string — ASCII ordering, identical in DuckDB.
        return F.md5(sid.cast("binary"))
    return F.xxhash64(sid)


def _staged(df: DataFrame, text_col: str, id_col: str, salt: int,
            hash_mode: str) -> DataFrame:
    """df + (_key, _n_tok, _bucket): the rank key, token count, and
    the order-preserving bucket (bucket asc == key asc) the sampler
    and the sharder both scan by."""
    key = _rank_key(id_col, salt, hash_mode)
    staged = df.withColumn("_key", key)\
        .withColumn("_n_tok", token_count(F.col(text_col)))
    if hash_mode == "md5":
        # First 3 hex chars: 4096 buckets, ordered like the string.
        return staged.withColumn("_bucket", F.substring("_key", 1, 3))
    # Arithmetic shift keeps signed order: bucket asc == key asc.
    return staged.withColumn(
        "_bucket", F.shiftright("_key", 64 - N_BUCKETS_BITS))


def token_shards(df: DataFrame, tokens_per_shard: int,
                 text_col: str = "text", id_col: str = "doc_id",
                 salt: int = 0, hash_mode: str = "xxhash64",
                 return_manifest: bool = False):
    """Deterministic training-shard assignment: a ``shard`` column such
    that shard k holds exactly the documents whose PRECEDING token
    mass (global salted-hash order, ties by id) lies in
    [k*S, (k+1)*S) — the fixed-token-shard layout training pipelines
    publish (C4/Pile/Dolma ship fixed-token subsets/shards), fully
    reproducible from (salt, tokens_per_shard).

    Scale shape — the definition is a GLOBAL ordered cumsum, but the
    plan never runs a one-partition window: documents bucket by the
    top key bits (bucket order == key order), one tiny hash
    aggregation gives per-bucket token sums, the <=4096-row prefix
    runs driver-side, and each bucket's documents pay only a LOCAL
    window cumsum (hash-partitioned by bucket) offset by its bucket's
    prefix. Bit-identical to the global definition, which is what the
    DuckDB oracle replays with a plain window at test scale.

    ``return_manifest=True`` additionally returns the per-shard
    manifest (shard, docs, tokens) — the sharding's own accounting
    table (every shard carries ~tokens_per_shard except the last).
    """
    if tokens_per_shard <= 0:
        raise ValueError("tokens_per_shard must be positive")
    staged = _staged(df, text_col, id_col, salt, hash_mode)

    per_bucket = (staged.groupBy("_bucket")
                  .agg(F.sum("_n_tok").alias("_tok"))
                  .orderBy("_bucket").collect())
    prefix_rows, running = [], 0
    for row in per_bucket:
        prefix_rows.append((row["_bucket"], running))
        running += int(row["_tok"] or 0)
    spark = df.sparkSession
    btype = "string" if hash_mode == "md5" else "long"
    offsets = spark.createDataFrame(
        prefix_rows or [(None, 0)], f"_bucket {btype}, _prefix long")

    w = (Window.partitionBy("_bucket").orderBy("_key", id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = (F.col("_prefix")
                  + F.coalesce(F.sum("_n_tok").over(w), F.lit(0)))
    out = (staged.join(F.broadcast(offsets), on="_bucket")
           .withColumn("shard",
                       F.floor(cum_before / tokens_per_shard)
                       .cast("int")))
    assigned = out.drop("_key", "_bucket", "_n_tok", "_prefix")
    if return_manifest:
        manifest = (out.groupBy("shard")
                    .agg(F.count("*").alias("docs"),
                         F.sum("_n_tok").alias("tokens"))
                    .orderBy("shard"))
        return assigned, manifest
    return assigned


def write_token_shards(df: DataFrame, path: str, tokens_per_shard: int,
                       text_col: str = "text", id_col: str = "doc_id",
                       salt: int = 0, hash_mode: str = "xxhash64") -> None:
    """Persist the corpus Hive-partitioned by shard (`shard=K/` dirs —
    a training loader reads one directory per fixed-token shard) plus
    the per-shard manifest under ``path/_manifest``.

    The manifest derives from the WRITTEN shards (one cheap aggregation
    over the landed parquet), not from re-running the assignment plan —
    return_manifest=True would recompute the full scan + window a
    second time, and at the corpus sizes this module designs for that
    is a whole redundant pass. Reading back what was written also makes
    the manifest an audit of the actual output, not of the plan."""
    assigned = token_shards(
        df, tokens_per_shard, text_col=text_col, id_col=id_col,
        salt=salt, hash_mode=hash_mode)
    assigned.write.mode("overwrite").partitionBy("shard")\
        .parquet(f"{path}/shards")
    spark = df.sparkSession
    manifest = (spark.read.parquet(f"{path}/shards")
                .groupBy("shard")
                .agg(F.count("*").alias("docs"),
                     F.sum(token_count(F.col(text_col))).alias("tokens"))
                .orderBy("shard"))
    manifest.write.mode("overwrite").parquet(f"{path}/_manifest")


def token_budget_sample(df: DataFrame, budget_tokens: int,
                        text_col: str = "text", id_col: str = "doc_id",
                        salt: int = 0, hash_mode: str = "xxhash64",
                        return_report: bool = False):
    """Corpus filtered to a deterministic ~``budget_tokens`` sample:
    a document is kept iff the token mass of all documents ranking
    before it (by salted hash, ties by id) is under the budget — so
    the sample always crosses the budget by at most one document, and
    budget <= 0 keeps nothing.

    With return_report=True also returns a one-row frame
    (total_docs, total_tokens, kept_docs, kept_tokens)."""
    staged = _staged(df, text_col, id_col, salt, hash_mode)

    # One tiny aggregation; the prefix over <=4096 rows runs on the
    # driver (this is plan work, not data work).
    per_bucket = (staged.groupBy("_bucket")
                  .agg(F.sum("_n_tok").alias("_tok"))
                  .orderBy("_bucket").collect())
    running = 0
    boundary_bucket = None
    boundary_remainder = 0
    for row in per_bucket:
        if running + row["_tok"] < budget_tokens:
            running += row["_tok"]
        else:
            boundary_bucket = row["_bucket"]
            boundary_remainder = budget_tokens - running
            break

    if boundary_bucket is None:
        kept = staged  # budget covers the whole corpus
    else:
        # Buckets are ordered like the key, so "fully kept" is one
        # comparison — no giant IN list.
        kept_full = staged.filter(F.col("_bucket") < boundary_bucket)
        w = (Window.partitionBy("_bucket")
             .orderBy("_key", id_col)
             .rowsBetween(Window.unboundedPreceding, -1))
        boundary = (staged.filter(F.col("_bucket") == boundary_bucket)
                    .withColumn("_before",
                                F.coalesce(F.sum("_n_tok").over(w),
                                           F.lit(0)))
                    .filter(F.col("_before") < boundary_remainder)
                    .drop("_before"))
        kept = kept_full.unionByName(boundary)
    out = kept.drop("_key", "_bucket", "_n_tok")
    if return_report:
        totals = staged.agg(
            F.count("*").alias("total_docs"),
            F.sum("_n_tok").alias("total_tokens")).first()
        kept_tot = kept.agg(
            F.count("*").alias("kept_docs"),
            F.sum("_n_tok").alias("kept_tokens")).first()
        report = df.sparkSession.createDataFrame(
            [(int(totals["total_docs"]), int(totals["total_tokens"] or 0),
              int(kept_tot["kept_docs"]), int(kept_tot["kept_tokens"] or 0))],
            "total_docs long, total_tokens long, kept_docs long, "
            "kept_tokens long")
        return out, report
    return out


def mixture_sample(df: DataFrame, weights: dict, budget_tokens: int,
                   group_col: str = "lang", text_col: str = "text",
                   id_col: str = "doc_id", salt: int = 0,
                   hash_mode: str = "xxhash64",
                   return_report: bool = False):
    """Training-mix assembly (the Pile/Dolma/DoReMi publication step):
    cut a ~``budget_tokens`` corpus whose token mass is split across
    ``group_col`` values proportionally to ``weights`` — group g gets
    floor(budget * w_g / sum(w)) tokens, filled deterministically in
    salted-hash order by the token_budget_sample rule (a group's
    sample crosses its budget by at most one document; a group whose
    corpus is smaller than its budget is kept whole — UNDER-filled,
    never back-filled from other groups, so the realized mix is
    auditable from the report rather than silently rebalanced).
    Groups absent from ``weights`` are dropped — the mix IS the spec.

    Scale shape: the bucketed machinery of token_budget_sample with
    the group riding the aggregation key — one (group, bucket) hash
    aggregation (|groups| x 4096 tiny rows), driver prefix per group,
    whole-bucket keeps by broadcast-joined filter, and ONLY each
    group's boundary bucket pays an ordered window.

    With return_report=True also returns a per-group frame (group,
    weight, budget_tokens, total_docs, total_tokens, kept_docs,
    kept_tokens)."""
    if not weights:
        raise ValueError("weights must name at least one group")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("weights must be non-negative with a "
                         "positive sum")
    total_w = float(sum(weights.values()))
    budgets = {g: int(budget_tokens * w / total_w)
               for g, w in weights.items()}

    spark = df.sparkSession
    staged = (_staged(df, text_col, id_col, salt, hash_mode)
              .filter(F.col(group_col).isin(list(weights))))

    per = (staged.groupBy(group_col, "_bucket")
           .agg(F.sum("_n_tok").alias("_tok"))
           .orderBy(group_col, "_bucket").collect())
    running: dict = {}
    bounds: dict = {}
    for row in per:
        g = row[group_col]
        if g in bounds:
            continue
        r = running.get(g, 0)
        if r + row["_tok"] < budgets[g]:
            running[g] = r + row["_tok"]
        else:
            bounds[g] = (row["_bucket"], budgets[g] - r)

    from pyspark.sql.types import LongType, StructField, StructType
    bdf = spark.createDataFrame(
        [(g, b, rem) for g, (b, rem) in bounds.items()],
        StructType([
            StructField(group_col, df.schema[group_col].dataType),
            StructField("_bb", staged.schema["_bucket"].dataType),
            StructField("_rem", LongType())]))
    joined = staged.join(F.broadcast(bdf), on=group_col, how="left")
    # groups with no boundary row are kept whole (_bb NULL)
    kept_full = joined.filter(F.col("_bb").isNull()
                              | (F.col("_bucket") < F.col("_bb")))
    w = (Window.partitionBy(group_col)
         .orderBy("_key", id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    boundary = (joined.filter(F.col("_bucket") == F.col("_bb"))
                .withColumn("_before",
                            F.coalesce(F.sum("_n_tok").over(w),
                                       F.lit(0)))
                .filter(F.col("_before") < F.col("_rem"))
                .drop("_before"))
    kept = kept_full.unionByName(boundary)
    out = kept.drop("_key", "_bucket", "_n_tok", "_bb", "_rem")
    if not return_report:
        return out
    totals = {r[group_col]: (r["d"], r["t"]) for r in
              staged.groupBy(group_col)
              .agg(F.count("*").alias("d"),
                   F.sum("_n_tok").alias("t")).collect()}
    kepts = {r[group_col]: (r["d"], r["t"]) for r in
             kept.groupBy(group_col)
             .agg(F.count("*").alias("d"),
                  F.sum("_n_tok").alias("t")).collect()}
    from pyspark.sql.types import DoubleType
    report = spark.createDataFrame(
        [(g, float(weights[g]), budgets[g],
          int(totals.get(g, (0, 0))[0]), int(totals.get(g, (0, 0))[1] or 0),
          int(kepts.get(g, (0, 0))[0]), int(kepts.get(g, (0, 0))[1] or 0))
         for g in sorted(weights, key=str)],
        StructType([
            # the group column keeps the INPUT's dtype (int language
            # ids are as valid as strings — review finding: a
            # hardcoded string schema crashed after the heavy work)
            StructField(group_col, df.schema[group_col].dataType),
            StructField("weight", DoubleType()),
            StructField("budget_tokens", LongType()),
            StructField("total_docs", LongType()),
            StructField("total_tokens", LongType()),
            StructField("kept_docs", LongType()),
            StructField("kept_tokens", LongType())]))
    return out, report

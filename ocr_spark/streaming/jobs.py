"""Structured Streaming ingest: incremental extraction with exactly-once
snapshot commits.

The reference is a stateless request/response service (SURVEY.md §2.8:
no streaming operators exist), so the streaming surface here is the
batch pipeline lifted into an incremental file-ingest job: new parquet
files landing under an input directory flow through the same salted
mapInArrow extraction via foreachBatch, and each micro-batch commits
atomically to the snapshot table — the anti-join makes redelivered
files idempotent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import schemas
from ..sources.snapshot import SnapshotTable, run_with_checkpoint


def stream_extract(spark: SparkSession, input_dir: str, table_root: str,
                   checkpoint_dir: str, available_now: bool = True):
    """readStream over the input dir -> foreachBatch(extract + commit).

    available_now=True drains what exists and stops (test/backfill mode);
    False runs continuously on a real cluster.
    """
    stream = (
        spark.readStream.schema(schemas.INPUT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        run_id = f"stream-{batch_id:08d}"
        snap = SnapshotTable(table_root).current_snapshot()
        if snap and run_id in snap["data_dirs"]:
            # Crash between snapshot commit and checkpoint write: Spark
            # replays the batch. Its rows already landed — skipping is
            # the exactly-once path (run_with_checkpoint would refuse
            # the committed run_id and wedge the stream).
            return
        run_with_checkpoint(spark, batch_df, table_root, run_id=run_id)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return SnapshotTable(table_root)
    return writer.start()


def stream_exact_dedup(spark: SparkSession, input_dir: str, out_dir: str,
                       checkpoint_dir: str, available_now: bool = True,
                       watermark_delay: str | None = None,
                       max_files_per_trigger: int | None = None):
    """Dedup-on-ingest: exact dedup ACROSS micro-batches via Spark's
    built-in stateful streaming dropDuplicates — one occurrence of each
    content hash flows through, every redelivery in a LATER micro-batch
    is dropped by the state store. (Within one micro-batch the surviving
    row is whichever Spark sees first — content-level dedup matches the
    batch operator exactly, row-level survivor choice does not carry
    batch ``exact_dedup``'s deterministic min-id rule.)

    Spark-first shape: no custom state handling — ``dropDuplicates`` on
    a streaming DataFrame keeps one state-store entry per distinct key
    (here a 128-bit content hash, so state is ~16 bytes x distinct docs
    regardless of document size; at corpus scale back the store with
    RocksDB via spark.sql.streaming.stateStore.providerClass). With
    ``watermark_delay`` set (e.g. "24 hours") the key space is bounded:
    rows carry their ``warc_ts`` event time and
    ``dropDuplicatesWithinWatermark`` evicts state older than the
    delay — the standard trade (bounded state, duplicates further
    apart than the horizon pass through). Rows with NULL ``warc_ts``
    are assigned the processing time as their event time (a NULL would
    otherwise be silently DELETED by the watermark comparison, not
    passed through). Without a watermark, state grows with distinct
    docs — right for bounded backfills, documented cost for unbounded
    streams.

    The hash is ``textstats.fingerprint`` — the SAME expression batch
    ``exact_dedup`` groups on (md5 over whitespace-normalized lowercased
    text; NULL text hashes NULL, and NULL keys group together in both
    engines' semantics) — so a streaming ingest keeps exactly the
    content set a batch pass over the same files would.
    """
    from ..operators.textstats import fingerprint

    reader = spark.readStream.schema(schemas.INPUT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (reader.parquet(input_dir)
              .withColumn("content_hash", fingerprint(F.col("text"))))
    if watermark_delay is not None:
        deduped = (stream
                   .withColumn("_evt", F.coalesce(F.col("warc_ts"),
                                                  F.current_timestamp()))
                   .withWatermark("_evt", watermark_delay)
                   .dropDuplicatesWithinWatermark(["content_hash"])
                   .drop("_evt"))
    else:
        deduped = stream.dropDuplicates(["content_hash"])
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        # Explicit schema: a no-op drain (nothing new under the
        # checkpoint) writes no files, and inference on the bare/absent
        # sink would throw where an empty frame is the right answer.
        out_schema = deduped.schema
        import os as _os
        if not _os.path.isdir(out_dir):
            return spark.createDataFrame([], out_schema)
        return spark.read.schema(out_schema).parquet(out_dir)
    return writer.start()


def stream_curate(spark: SparkSession, input_dir: str, table_root: str,
                  checkpoint_dir: str, keep_langs=("en",),
                  scrub_pii: bool = False,
                  available_now: bool = True,
                  max_files_per_trigger: int = 8,
                  source: str = "parquet"):
    """Curation-on-ingest: each micro-batch of raw pages flows through
    the SAME batch gates the job CLI applies post-hoc — the Gopher
    repetition thresholds (textstats.gopher_quality_filter), the
    script-vote language gate (textstats.with_lang_guess in ``keep_langs``),
    then exact content dedup — and only the survivors commit to the
    snapshot table. At 100 TB this is the difference between filtering
    the firehose as it lands and landing everything to filter later.

    Cross-batch semantics (all against the snapshot table's committed
    state, so they hold across restarts and redelivered files):

      * url exactly-once — committed urls anti-join out of the batch
        first (a redelivered file re-processes nothing); a replayed
        micro-batch (crash between commit and checkpoint write) is
        skipped by run_id.
      * content dedup ACROSS batches — the committed table carries
        every survivor's ``content_hash`` (textstats.fingerprint, the
        batch exact_dedup key), and the batch anti-joins on it with a
        null-safe equality so NULL-text rows dedup exactly like the
        batch operator (NULL keys group together). Within a batch the
        first-seen row survives — content-level parity with batch
        exact_dedup; the survivor-identity rule (batch: min id) is the
        one difference, inherent to not having seen the future.

    Gate order is quality -> language -> dedup (cheapest-true-positive
    ordering: repetition kills most spam before the dedup join runs),
    and each gate's drop count lands in a per-batch metrics row under
    ``<table_root>/metrics_curate`` — the job CLI's never-silent
    counter contract, streamed.

    ``scrub_pii=True`` redacts emails/IPs/phones (operators/scrub.py)
    from each fresh row's text BEFORE fingerprinting, so the committed
    corpus never holds the raw PII and two pages differing only in PII
    dedup as content-equal; the per-batch redaction total rides the
    metrics row (always present — 0 when the gate is off, so the
    metrics parquet keeps one schema either way).
    """
    from ..operators.scrub import pii_scrub
    from ..operators.textstats import (fingerprint, gopher_quality_filter,
                                       with_lang_guess)

    langs = list(keep_langs)
    table = SnapshotTable(table_root)

    def process(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        run_id = f"curate-{batch_id:08d}"
        snap = table.current_snapshot()
        if snap and run_id in snap["data_dirs"]:
            return  # replay of a committed batch: already landed
        n_input = batch_df.count()
        batch = batch_df.dropDuplicates(["url"])
        committed = table.read(spark)
        fresh = (batch if committed is None
                 else batch.join(committed.select("url"), "url", "left_anti"))
        if scrub_pii:
            fresh = pii_scrub(fresh, text_col="text")
        else:
            fresh = fresh.withColumn("n_pii_redacted", F.lit(0))
        # with_lang_guess, not the Column form: one normalize+split
        # per document instead of ~L^2 (textstats.lang_id PERF WARNING).
        staged = (with_lang_guess(fresh, "text")
                  .withColumn("content_hash", fingerprint(F.col("text"))))
        staged.persist()
        try:
            n_fresh = staged.count()
            n_pii = int(staged.agg(
                F.sum("n_pii_redacted")).first()[0] or 0)
            q_kept = gopher_quality_filter(staged, text_col="text",
                                           id_col="url")
            n_q = q_kept.count()
            l_kept = q_kept.filter(F.col("lang_guess").isin(langs))
            n_l = l_kept.count()
            d_kept = l_kept.dropDuplicates(["content_hash"])
            if committed is not None:
                prev = committed.select(
                    F.col("content_hash").alias("_prev_hash"))
                d_kept = d_kept.join(
                    prev,
                    F.col("content_hash").eqNullSafe(F.col("_prev_hash")),
                    "left_anti")
            out_dir = table.run_dir(run_id)
            d_kept.write.mode("overwrite").parquet(out_dir)
            n = spark.read.schema(d_kept.schema).parquet(out_dir).count()
            if n > 0:
                table.commit(run_id, n)
            metrics_row = [(batch_id, n_input, n_input - n_fresh,
                            n_fresh - n_q, n_q - n_l, n_l - n, n, n_pii)]
            spark.createDataFrame(
                metrics_row,
                "batch_id long, input_rows long, redelivered long, "
                "quality_dropped long, lang_dropped long, "
                "dup_dropped long, committed long, pii_redacted long"
            ).write.mode("append").parquet(f"{table_root}/metrics_curate")
        finally:
            staged.unpersist()

    if source == "warc":
        # Crawl segments curate AS THEY ARRIVE: the registered warc
        # stream source's offset cursors the sorted segment listing,
        # so a micro-batch is exactly the new segments. Bookkeeping
        # rows (NULL url, the per-segment skip count) are not pages —
        # drop them here; the skip counts stay observable through the
        # batch reader. The source has no maxFilesPerTrigger knob (a
        # catch-up batch is all new segments).
        from ..sources.warc_datasource import register
        register(spark)
        stream = (spark.readStream.format("warc").load(input_dir)
                  .filter(F.col("url").isNotNull())
                  .select("url", "warc_ts", "html", "text", "lang",
                          F.lit(None).cast("string").alias("meta")))
    else:
        stream = (
            spark.readStream.schema(schemas.INPUT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return table
    return writer.start()


def stream_neardup(spark: SparkSession, input_dir: str, table_root: str,
                   checkpoint_dir: str, k: int = 8, num_perm: int = 32,
                   bands: int = 8, threshold: float = 0.7,
                   max_bucket: int = 1000, available_now: bool = True,
                   max_files_per_trigger: int = 8):
    """MinHash/LSH near-dup dedup-on-ingest: each micro-batch is
    near-dup-resolved WITHIN itself (the batch operators: lsh pairs ->
    connected components -> keep-one) and then AGAINST everything
    already committed — without ever recomputing the committed side.

    The incremental trick is a band-key sidecar: every committed
    survivor's (band, band_hash) LSH bucket keys persist under
    ``<table_root>/bands/<run_id>/``. A new batch computes its own band
    rows (minhash_band_rows — the same keys the batch operator buckets
    on) and equi-joins them against the sidecar: ids-only, so the
    cross-batch candidate step shuffles a few longs per doc no matter
    how large the committed corpus text is. Only the candidate pairs'
    texts are touched for the exact-Jaccard verify, and only the batch
    side plus the handful of matched committed docs are re-shingled.
    At 100 TB committed this is the difference between O(batch) and
    O(corpus) per trigger.

    Crash safety: survivors land in the run dir, then their band rows
    land in the sidecar, then the snapshot commits — so a crash at any
    point before commit replays into idempotent overwrites, and a
    replay after commit (crash before the checkpoint write) is skipped
    by run_id with the sidecar already consistent. Committed bands are
    read ONLY for run_ids in the current snapshot, so an orphaned
    sidecar dir from a failed run never contributes candidates.

    Both bucket sides are capped at ``max_bucket`` rows per (band,
    band_hash) — the batch operator's hot-bucket guard, applied to the
    sidecar join too (a boilerplate bucket with a million committed
    members must not fan a new doc into a million verify pairs).

    Band keys use minhash_lsh_pairs' default 'poly' family, so the
    sidecar holds poly-signature keys (a sidecar written by an
    earlier, xxhash64-keyed version never matches them).

    NULL-text semantics: within a batch the poly family normalizes
    NULL to '', so NULL and empty texts are mutual near-dups (jaccard
    1.0). Across batches the verify shingles strings, where a NULL
    text is the degenerate [NULL] array: NULL pairs with NULL and ''
    with '', but NULL never with ''. Either way the first one
    committed wins.

    Metrics land per batch under ``<table_root>/metrics_neardup``:
    input_rows, redelivered (url-committed or url-dup-in-batch),
    within_dropped (batch-internal near-dups), cross_dropped (near-dup
    of a committed doc), committed.
    """
    import os

    from ..operators.dedup import (dedup_apply, dedup_resolve, jaccard,
                                   minhash_band_rows, minhash_lsh_pairs,
                                   cap_buckets, shingles)

    table = SnapshotTable(table_root)
    bands_root = os.path.join(table_root, "bands")

    def band_rows(df):
        return minhash_band_rows(df, text_col="text", id_col="url",
                                 k=k, num_perm=num_perm, bands=bands)

    def process(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        run_id = f"neardup-{batch_id:08d}"
        snap = table.current_snapshot()
        if snap and run_id in snap["data_dirs"]:
            return  # replay of a committed batch: already landed
        n_input = batch_df.count()
        batch = batch_df.dropDuplicates(["url"])
        committed = table.read(spark)
        fresh = (batch if committed is None
                 else batch.join(committed.select("url"), "url", "left_anti"))
        fresh.persist()
        try:
            n_fresh = fresh.count()
            # Within-batch: the full batch pipeline, keep-one per cluster.
            pairs = minhash_lsh_pairs(fresh, text_col="text", id_col="url",
                                      k=k, num_perm=num_perm, bands=bands,
                                      threshold=threshold,
                                      max_bucket=max_bucket)
            resolved = dedup_resolve(pairs, docs=fresh, id_col="url")
            survivors = dedup_apply(fresh, resolved, id_col="url")
            survivors.persist()
            n_within = survivors.count()
            # Cross-batch: bucket-join new band keys against the
            # committed sidecar (ids only), verify candidates exactly.
            committed_band_dirs = [
                os.path.join(bands_root, r)
                for r in (snap["data_dirs"] if snap else [])
                if os.path.isdir(os.path.join(bands_root, r))]
            if committed_band_dirs:
                new_bands = cap_buckets(band_rows(survivors),
                                        ["band", "band_hash"], max_bucket)
                old_bands = cap_buckets(
                    spark.read.parquet(*committed_band_dirs),
                    ["band", "band_hash"], max_bucket)
                cand = (new_bands.select("band", "band_hash",
                                         F.col("id").alias("new_id"))
                        .join(old_bands.select(
                            "band", "band_hash", F.col("id").alias("old_id")),
                            ["band", "band_hash"])
                        .select("new_id", "old_id").dropDuplicates())
                new_sh = survivors.select(
                    F.col("url").alias("new_id"),
                    shingles(F.col("text"), k).alias("sh_new"))
                old_sh = committed.select(
                    F.col("url").alias("old_id"),
                    shingles(F.col("text"), k).alias("sh_old"))
                cross_dups = (cand.join(new_sh, "new_id")
                              .join(old_sh, "old_id")
                              .withColumn("j", jaccard(F.col("sh_new"),
                                                       F.col("sh_old")))
                              .filter(F.col("j") >= threshold)
                              .select(F.col("new_id").alias("url"))
                              .dropDuplicates())
                kept = survivors.join(cross_dups, "url", "left_anti")
            else:
                kept = survivors
            out_dir = table.run_dir(run_id)
            kept.write.mode("overwrite").parquet(out_dir)
            final = spark.read.schema(kept.schema).parquet(out_dir)
            n = final.count()
            # Sidecar BEFORE commit: a crash between the two replays the
            # batch (run_id not committed) and overwrites both.
            band_rows(final).write.mode("overwrite").parquet(
                os.path.join(bands_root, run_id))
            if n > 0:
                table.commit(run_id, n)
            spark.createDataFrame(
                [(batch_id, n_input, n_input - n_fresh, n_fresh - n_within,
                  n_within - n, n)],
                "batch_id long, input_rows long, redelivered long, "
                "within_dropped long, cross_dropped long, committed long"
            ).write.mode("append").parquet(f"{table_root}/metrics_neardup")
            survivors.unpersist()
        finally:
            fresh.unpersist()

    stream = (
        spark.readStream.schema(schemas.INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return table
    return writer.start()


def stream_domain_cap(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, max_per_domain: int,
                      available_now: bool = True,
                      max_files_per_trigger: int | None = None):
    """Per-domain contribution cap ON INGEST — the streaming form of
    ``domains.domain_cap``, as a CUSTOM STATEFUL operator
    (``applyInPandasWithState``): the state per host is one counter of
    documents already admitted, so a host that exhausts its budget in
    micro-batch 3 stays closed in micro-batch 300.

    Where batch ``domain_cap`` selects a deterministic hash-ordered
    survivor set (it sees the whole corpus), the streaming form
    necessarily admits in ARRIVAL order — first ``max_per_domain``
    docs per host win, exactly like the streaming dedup's documented
    within-batch caveat. State is 8 bytes per distinct host (RocksDB-
    backable), and the shuffle key is the pure-expression
    ``url_host``, so hot hosts hash-spread the same way the batch
    operator's window partitions do.
    """
    if max_per_domain < 1:
        raise ValueError("max_per_domain must be >= 1")

    from ..functions.expressions import url_host

    out_cols = [f.name for f in schemas.INPUT_SCHEMA.fields]
    state_schema = "n_admitted LONG"

    def cap_host(key, pdfs, state):
        admitted = state.get[0] if state.exists else 0
        budget = max_per_domain - admitted
        for pdf in pdfs:
            if budget <= 0:
                break
            take = pdf.iloc[:budget]
            budget -= len(take)
            if len(take):
                yield take[out_cols]
        state.update((max_per_domain - budget,))

    reader = spark.readStream.schema(schemas.INPUT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    capped = (
        reader.parquet(input_dir)
        .withColumn("_host", url_host(F.col("url")))
        .groupBy("_host")
        .applyInPandasWithState(cap_host,
                                outputStructType=schemas.INPUT_SCHEMA,
                                stateStructType=state_schema,
                                outputMode="append",
                                timeoutConf="NoTimeout")
    )
    writer = (
        capped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        import os as _os
        if not _os.path.isdir(out_dir):
            return spark.createDataFrame([], schemas.INPUT_SCHEMA)
        return spark.read.schema(schemas.INPUT_SCHEMA).parquet(out_dir)
    return writer.start()

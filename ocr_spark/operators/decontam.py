"""Long-n-gram overlap operators: benchmark decontamination (corpus
vs eval set) and intra-corpus exact-substring duplication — both flag
documents by shared long word n-grams, differing only in what the
probe side is.

Public method: the GPT-3 13-gram overlap filter (Brown et al. 2020,
"Language Models are Few-Shot Learners", Appendix C), as refined for
The Pile (Gao et al. 2021 §6.3): normalize + whitespace-tokenize both
sides, form all n-token shingles, and mark a training document
contaminated when any of its shingles also appears in the benchmark
set. Removing (or at least flagging) such documents is a standard
pre-training step — otherwise eval numbers measure memorization.

Scale shape (10^12 training docs, benchmark = eval sets of ~10^4-10^6
documents): n-gram STRINGS never leave the executor — each side hashes
its distinct per-document n-grams to one 8-byte value and the join
moves only (id, hash) pairs. The benchmark hash set is tiny relative
to the corpus (millions of rows), so AQE broadcasts it under every
realistic configuration and the corpus side never shuffles at all; the
corpus-side explode is wide (one row per token) but carries 16 bytes a
row and feeds straight into the broadcast probe, map-side only.

There is no reference twin (the reference service has no corpus-level
operators); the per-document text semantics reuse the same
normalize/tokenize chain as the rest of the curation family
(`dedup.normalize_text`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import check_hash_mode, md5_hash64, normalize_text


def word_ngrams(c: Column, n: int = 13) -> Column:
    """Distinct n-token shingles (space-joined) of the normalized text.
    Documents shorter than n tokens yield an empty array — F.sequence
    would happily count DOWNWARD for size < n, so the guard is
    load-bearing, and it also keeps short docs from being 'equal to the
    benchmark' via a degenerate shingle.

    PERF WARNING (measured): as a self-contained Column expression the
    token split (and its normalize regex) is inlined into the
    per-element lambda and re-runs once PER GRAM — O(tokens·len) per
    document, unusable on 8+ KB docs (20k such docs did not finish in
    500s). The operators below use ``_gram_hash_rows``, which lands
    the token array in a real column first. This form stays for
    small-fixture tests and oracle parity checks only."""
    toks = F.split(normalize_text(c), " ")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), cnt - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(cnt >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>"))


def ngram_hashes(c: Column, n: int = 13,
                 hash_mode: str = "xxhash64") -> Column:
    """Distinct 64-bit hashes of the n-gram shingles. hash_mode='md5'
    is the DuckDB-expressible twin (dedup.md5_hash64 <-> joining on
    substr(md5(gram),1,16) is the same bijection); production default
    stays xxhash64 (one JVM intrinsic per gram). Same PERF WARNING as
    ``word_ngrams`` — hot paths go through ``_gram_hash_rows``."""
    grams = word_ngrams(c, n)
    return F.array_distinct(F.transform(grams, _gram_hash(hash_mode)))


def _gram_hash(hash_mode: str):
    """The n-gram hash of a family: xxhash64 (production) or
    md5_hash64 (the oracle twin); any other value raises ValueError."""
    check_hash_mode(hash_mode, ("xxhash64", "md5"))
    return md5_hash64 if hash_mode == "md5" else (lambda g: F.xxhash64(g))


def _gram_hash_rows(df: DataFrame, keep: tuple, text_col: str, n: int,
                    hash_mode: str, sample_mod: int = 1) -> DataFrame:
    """(keep..., ngram_hash): one row per DISTINCT n-token shingle of
    each document — same values as exploding ``ngram_hashes``, linear
    cost. The token array lands in a real column (`_toks`) referenced
    several times, which stops Catalyst's CollapseProject from
    inlining the split+normalize back into the per-gram lambda (the
    O(tokens·len) pathology the Column form carries); per-gram work is
    then slice+join+hash only. Distinctness stays executor-local
    (array_distinct before the explode) so no new shuffle appears.

    ``sample_mod`` > 1 keeps only shingles whose START TOKEN hashes to
    0 mod sample_mod — a content-defined anchor (same selection
    decision wherever the span occurs, so two copies of a span always
    sample the same shingles; positional striding can't promise that).
    Anchoring on one token means the cheap per-position test is one
    int hash; the n-token join+hash — the dominant generation cost —
    runs only at anchors, ~sample_mod× less work end to end."""
    toks = F.split(normalize_text(F.coalesce(F.col(text_col), F.lit(""))),
                   " ")
    hf = _gram_hash(hash_mode)
    cnt = F.size(F.col("_toks"))
    idx = F.sequence(F.lit(1), cnt - F.lit(n - 1))
    if sample_mod > 1:
        idx = F.filter(idx, lambda i: F.pmod(
            F.xxhash64(F.element_at(F.col("_toks"), i)),
            F.lit(sample_mod)) == 0)
    grams = F.when(
        cnt >= n,
        F.array_distinct(F.transform(
            idx, lambda i: hf(F.array_join(F.slice(F.col("_toks"), i, n),
                                           " ")))))\
        .otherwise(F.array().cast("array<bigint>"))
    return (df.select(*keep, toks.alias("_toks"))
            .select(*keep, F.explode(grams).alias("ngram_hash")))


def substring_duplication(docs: DataFrame, n: int = 50,
                          text_col: str = "text", id_col: str = "doc_id",
                          hash_mode: str = "xxhash64",
                          sample_mod: int = 1) -> DataFrame:
    """Intra-corpus exact-substring duplication (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, how many of its distinct n-token spans also occur
    in an EARLIER document (earlier = smaller id, the deterministic
    keep-first policy). Returns (id_col, n_ngrams, dup_ngrams,
    dup_fraction) for every document with >= 1 span; a document whose
    every span is owned elsewhere (dup_fraction = 1.0) is a pure
    recombination of seen text.

    Why not suffix arrays (the paper's exact tool): a distributed
    suffix array over 10^12 docs is a multi-stage sort of the entire
    corpus; the n-token shingle approximation catches every duplicated
    span of >= n tokens with two hash aggregations and is the form
    public Spark pipelines actually run. Scale shape: one explode to
    (id, hash) [16 bytes/row], one shuffle on hash for the
    min-owner aggregation, one shuffle-join back on hash (the
    per-hash owner table is corpus-vocabulary sized — NOT
    broadcastable, unlike the benchmark set in `contamination`), one
    partial-agg shuffle on id. No Python anywhere.

    ``sample_mod`` (default 1 = every gram, exact) is the scale lever:
    keep only shingles anchored on a start token whose hash is
    0 mod sample_mod. Selection is CONTENT-defined, so a span shared
    by two documents selects the same shingles in both — never missed
    by offset misalignment (the flaw of positional striding); under
    token-hash uniformity a duplicated run of g shingles goes entirely
    unsampled with probability ~(1-1/mod)^g (~0.2% for mod=8 over a
    2n-token duplicated span at the default n=50; a span whose start
    tokens all happen to hash non-zero is the residual worst case).
    n_ngrams / dup_fraction are then computed over the sampled
    shingles — an estimate of the exact fraction. mod=p cuts the
    expensive n-token join+hash generation AND the shuffle by ~p
    (measured 160k × 8.6 KB docs: exact did not finish in 560 s,
    mod=8 runs in 16 s).
    """
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    doc_h = _gram_hash_rows(docs, (F.col(id_col),), text_col, n,
                            hash_mode, sample_mod=sample_mod)
    owners = (doc_h.groupBy("ngram_hash")
              .agg(F.min(id_col).alias("_owner")))
    return (doc_h.join(owners, "ngram_hash")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_ngrams"),
                 F.sum((F.col(id_col) != F.col("_owner")).cast("long"))
                 .alias("dup_ngrams"))
            .withColumn("dup_fraction",
                        F.round(F.col("dup_ngrams")
                                / F.col("n_ngrams"), 6)))


def substring_dedup(docs: DataFrame, n: int = 50,
                    max_dup_fraction: float = 0.5,
                    text_col: str = "text", id_col: str = "doc_id",
                    hash_mode: str = "xxhash64",
                    sample_mod: int = 1) -> DataFrame:
    """Apply the duplication verdicts: drop documents whose
    dup_fraction EXCEEDS max_dup_fraction (0.0 = drop any doc sharing
    a single n-token span with an earlier one). Keep-first is
    deterministic: the smallest-id owner of every span always
    survives, so re-running on the survivor set is a fixed point.
    Documents with no spans (shorter than n tokens) are kept — length
    gates are a different operator's job (`textstats.c4_filter`)."""
    if not 0.0 <= max_dup_fraction <= 1.0:
        raise ValueError(
            f"max_dup_fraction must be in [0, 1], got {max_dup_fraction}")
    dup = substring_duplication(docs, n=n, text_col=text_col,
                                id_col=id_col, hash_mode=hash_mode,
                                sample_mod=sample_mod)
    bad = dup.filter(F.col("dup_fraction") > max_dup_fraction)
    return docs.join(bad.select(id_col), on=id_col, how="left_anti")


def contamination(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None,
                  hash_mode: str = "xxhash64",
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Per-document overlap counts vs the benchmark n-gram set:
    (id_col, hit_count) for every training document sharing >=1
    distinct n-gram with any benchmark document.

    Both sides explode to (.., hash) rows; the benchmark side is
    de-duplicated then (by default) broadcast, so the corpus side is a
    map-side probe with one partial-agg shuffle on id_col for the
    counts. Set broadcast_benchmark=False for a benchmark too large to
    broadcast (the join falls back to a hash shuffle on ngram_hash).
    """
    bench_text = bench_text_col or text_col
    bench_h = _gram_hash_rows(benchmark, (), bench_text, n,
                              hash_mode).distinct()
    if broadcast_benchmark:
        bench_h = F.broadcast(bench_h)
    doc_h = _gram_hash_rows(docs, (F.col(id_col),), text_col, n,
                            hash_mode)
    # Per-doc hashes and the benchmark set are each distinct, so one
    # joined row == one distinct contaminated n-gram of that doc.
    return (doc_h.join(bench_h, "ngram_hash")
            .groupBy(id_col)
            .agg(F.count("*").alias("hit_count")))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 13,
                  min_hits: int = 1, mode: str = "remove",
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None,
                  hash_mode: str = "xxhash64",
                  broadcast_benchmark: bool = True) -> DataFrame:
    """Apply the contamination verdicts to the corpus.

    mode='remove' (the Pile policy at min_hits=1): left-anti the
    contaminated ids out, preserving the input schema. mode='flag':
    keep every row and append contam_hits (0 for clean docs) so a
    downstream policy can threshold differently per benchmark.
    """
    if mode not in ("remove", "flag"):
        raise ValueError(f"mode must be 'remove' or 'flag', got {mode!r}")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    hits = contamination(
        docs, benchmark, n=n, text_col=text_col, id_col=id_col,
        bench_text_col=bench_text_col, hash_mode=hash_mode,
        broadcast_benchmark=broadcast_benchmark)
    bad = hits.filter(F.col("hit_count") >= min_hits)
    if mode == "flag":
        return (docs.join(bad, id_col, "left")
                .withColumn("contam_hits",
                            F.coalesce(F.col("hit_count"), F.lit(0)))
                .drop("hit_count"))
    return docs.join(bad.select(id_col), id_col, "left_anti")

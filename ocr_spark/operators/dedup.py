"""Deduplication operators for web-scale corpus curation.

Each LSH operator runs one production hash family. MinHash and the
n-gram anchors hash shingles with a base-257 rolling polynomial in
vectorized pandas UDFs (one numpy pass per Arrow batch); SimHash hashes
tokens with xxhash64 and votes with bit arithmetic in expressions.
MinHash and SimHash also keep an md5 family, which the driver oracle
replays in DuckDB SQL. Verify stages compute Jaccard over shingle sets
(string shingles for md5, shingle hashes for the polynomial family).

Scale design: every operator is a bounded-fanout bucket join (LSH bands
/ simhash chunks), never an all-pairs cross join; exact dedup is one
hash aggregation with map-side combine.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cap_buckets(df: DataFrame, keys: list[str],
                max_bucket: int) -> DataFrame:
    """Hot-bucket guard for LSH self-joins (the 100 TB scale-killer).

    A degenerate bucket — millions of empty/boilerplate docs sharing a
    band hash — turns the within-bucket self-join quadratic inside one
    join key. Production near-dup pipelines therefore cap bucket
    occupancy: buckets above ``max_bucket`` are dropped entirely.
    Dropping (rather than sampling) is safe for dedup semantics because
    a bucket that hot means the signature carries no discriminating
    information for those rows — true duplicates among them are caught
    by exact_dedup (always run first), and near-dup recall for such rows
    is recovered by their OTHER bands/chunks/tables, which remain
    subject to the same cap individually.

    Cost: one window count over the bucket keys. The window shuffles on
    exactly the keys the subsequent self-join uses, so the exchange is
    reused (verify: single Exchange feeding Window + both join sides).
    Use bucket_report() for the drop counters.
    """
    w = Window.partitionBy(*keys)
    return (df.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket).drop("_bucket_n"))


def bucket_report(df: DataFrame, keys: list[str],
                  max_bucket: int) -> DataFrame:
    """Observability for cap_buckets: one row with bucket/occupancy
    stats and how many rows the cap would drop. Callers (bench, jobs)
    log this next to the pair output — silent truncation is an
    anti-pattern (a capped run must say what it capped)."""
    per = df.groupBy(*keys).agg(F.count("*").alias("n"))
    # coalesce(0): over an EMPTY bucket frame (e.g. a near-dup pass on
    # zero matched rows) max/sum aggregate to NULL and consumers that
    # int() the counters would crash after the pair output was already
    # persisted — an empty run reports zeros, not nulls.
    return per.agg(
        F.count("*").alias("n_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket_size"),
        F.coalesce(F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)),
                   F.lit(0)).alias("n_hot_buckets"),
        F.coalesce(F.sum(F.when(F.col("n") > max_bucket, F.col("n"))
                         .otherwise(0)), F.lit(0)).alias("rows_dropped"),
        F.lit(max_bucket).alias("max_bucket"))


def normalize_text(c):
    """Canonical form for hashing: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text hash; survivor = min id per group.
    One shuffle on the 128-bit digest; partial agg combines map-side."""
    h = F.md5(normalize_text(F.col(text_col)).cast("binary")).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("survivor_id"),
             F.count("*").alias("dup_count"))
    )


def shingles_of_norm(norm, k: int = 8):
    """Distinct character k-grams of an ALREADY-normalized column.

    Pass a LANDED column (an alias the consuming projection references
    at least twice, so CollapseProject keeps the boundary — the
    _gram_hash_rows protection), never a regexp-bearing expression
    tree: Catalyst higher-order functions evaluate interpreted, so a
    normalize tree inside the per-element lambda re-runs once PER
    SHINGLE — O(len^2) per document. Measured: the curate-funnel
    near-dup stage went from a 15+-minute-per-task hang to seconds on
    8.6 KB pages when the norm landed (this module's own
    minhash_band_rows hit it after the r4 synth pages grew)."""
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda j: F.substring(norm, j, k)))


def shingles(c, k: int = 8):
    """Distinct character k-grams of the normalized text (expression).

    Convenience form for SMALL inputs (oracle twins, fixtures): the
    normalize tree is duplicated into the per-shingle lambda, which is
    quadratic per document (see shingles_of_norm) — hot paths must
    land normalize_text in its own projection and call
    shingles_of_norm on the attribute."""
    return shingles_of_norm(normalize_text(c), k)


_MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime


def _perm_consts(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic 31-bit affine constants (A_p odd in [1,2^31),
    B_p in [0,2^31)), one pair per permutation, via a fixed-seed LCG —
    no RNG state, identical on every executor and run."""
    consts = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        a = (x >> 33) | 1
        x = (x * 6364136223846793005 + 1442695040888963407) % 2**64
        consts.append((a, x >> 33))
    return consts


def md5_hash31(c):
    """31-bit hash from the first 8 hex chars of md5, DuckDB-expressible
    as (('0x' || substr(md5(s),1,8))::bigint & 2147483647). The shingle
    hash of MinHash's oracle-checked hash_mode='md5' family."""
    return (F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10)
            .cast("long").bitwiseAND(F.lit(0x7FFFFFFF).cast("long")))


def md5_hash64(c):
    """64-bit hash from md5 assembled from two 32-bit hex words (lo =
    hex chars 1-8, hi = 9-16). The signed-long bit pattern matches
    (hi << 32) | lo; DuckDB reproduces per-bit math from the halves
    (its << overflow-checks, so the oracle never assembles the 64-bit
    value)."""
    hexs = F.md5(c.cast("binary"))
    lo = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    hi = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def shingle_hashes_md5(shingle_arr):
    return F.transform(shingle_arr, md5_hash31)


def minhash_signature_from_hashes(hash_arr, num_perm: int = 32):
    """One-hash MinHash over PRE-HASHED shingles (elements must be longs
    in [0, 2^31-1] — pass shingle_hashes_md5(...), not raw shingles):
    permutation p is the classic universal hash h -> (h * A_p + B_p)
    mod (2^31 - 1). With 31-bit h and constants the product stays under
    2^62, so the long arithmetic can never overflow (Spark 4 runs ANSI
    mode). One string hash + num_perm multiply-add-mods per shingle
    instead of num_perm string hashes."""
    return F.array(*[
        F.array_min(F.transform(
            hash_arr,
            lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE31))))
        for a, b in _perm_consts(num_perm)])


def _norm_series(texts):
    """The pandas twin of `normalize_text` (NULL -> '', trim, lower,
    whitespace runs -> one space), shared by every rolling-hash UDF.
    Blocking signatures and the verify hasher MUST normalize
    identically or candidate semantics silently diverge from verify
    semantics — one definition keeps that invariant structural."""
    return (texts.fillna("").str.strip().str.lower()
            .str.replace(r"\s+", " ", regex=True))


def _poly_shingle_hashes(norm, k: int):
    """Per normalized text, the sorted distinct 31-bit shingle hashes of
    the 'poly' family: a base-257 rolling polynomial over the UTF-8
    BYTE k-grams (wraparound uint64, masked to 31 bits) — as uniform
    as a string hash for LSH banding, and one numpy matmul per doc. A
    text shorter than k bytes hashes its zero-padded self (one lone
    shingle), so NULL and '' share a signature."""
    import numpy as np
    powers = np.uint64(257) ** np.arange(k - 1, -1, -1, dtype=np.uint64)
    for s in norm:
        b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        if len(b) < k:
            b = np.pad(b, (0, k - len(b)))
        win = np.lib.stride_tricks.sliding_window_view(b, k)
        yield np.unique((win.astype(np.uint64) @ powers)
                        & np.uint64(0x7FFFFFFF))


def _poly_minhash(norm, k: int, num_perm: int):
    """Per normalized text, the num_perm MinHash mins (uint64) of its
    _poly_shingle_hashes under the _perm_consts affine permutations —
    the same permutations as minhash_signature_from_hashes."""
    import numpy as np
    consts = _perm_consts(num_perm)
    A = np.array([a for a, _ in consts], dtype=np.uint64)
    B = np.array([b for _, b in consts], dtype=np.uint64)
    for h in _poly_shingle_hashes(norm, k):
        # (n_sh, num_perm): h*A+B < 2^62 fits uint64 exactly.
        yield ((h[:, None] * A + B) % np.uint64(_MERSENNE31)).min(axis=0)


def _minhash_signatures_pandas_udf(k: int, num_perm: int):
    """Vectorized MinHash signatures of the 'poly' family: one matrix
    op per document instead of num_perm interpreted higher-order-
    function passes (Catalyst HOFs don't codegen)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series([m.astype(np.int64) for m in
                          _poly_minhash(_norm_series(texts), k, num_perm)])

    return sig


def jaccard(a, b):
    """Exact Jaccard over two shingle arrays (expression)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def _shingle_hashes_pandas_udf(k: int):
    """Distinct 'poly' shingle hashes per document — the vectorized
    twin of ``shingles_of_norm``, so candidate verification computes
    Jaccard over int64 arrays JVM-side.

    The interpreted expression form (transform(sequence..) + substring
    + array_distinct) measured ~256 ms per 6.6 KB document at the
    verify stage; this numpy pass is ~0.3 ms. Jaccard over hashed
    shingles differs from string shingles only on 31-bit collisions
    (~n²/2³² expected per doc — a 6.6 KB page carries ~1e-2 expected
    colliding pairs); the md5 oracle mode keeps exact string shingles
    so the driver gate is unaffected."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def sh(texts: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series([h.astype(np.int64) for h in
                          _poly_shingle_hashes(_norm_series(texts), k)])

    return sh


def _spread(df: DataFrame, spread: int) -> DataFrame:
    """Small scans (one parquet file -> one task) would serialize the
    compute-heavy signature stages on a single core; ``spread=N``
    repartitions to N (the caller states the target parallelism:
    bench/driver queries over one-file scans). The default 0 leaves
    the input layout alone: production pipelines over many-file tables
    are already wide, and an operator must not probe or reshuffle
    behind their back."""
    return df.repartition(int(spread)) if spread else df


def check_hash_mode(hash_mode: str, accepted: tuple[str, ...]) -> None:
    """Reject an unknown hash family instead of falling through to
    another one (a caller passing a removed family must not silently
    get different buckets)."""
    if hash_mode not in accepted:
        raise ValueError(f"hash_mode must be one of {accepted}, "
                         f"got {hash_mode!r}")


def minhash_band_rows(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      num_perm: int = 32, bands: int = 8,
                      hash_mode: str = "poly") -> DataFrame:
    """The LSH bucket keys alone: (id, band, band_hash) — one row per
    (document, band). This is minhash_lsh_pairs' candidate-generation
    half, exposed so incremental consumers (streaming dedup-on-ingest)
    can persist a corpus's band keys as a sidecar and bucket-join NEW
    documents against it without recomputing the committed side.

    Band rows carry ONLY (id, band, band_hash): at 10^12 docs the
    bands-x duplication of shingle arrays through the shuffle would
    dominate the job; ids shuffle in bytes, shingles re-derive later
    for the (small) candidate set.

    hash_mode is 'poly' (production) or 'md5' (the oracle twin), as in
    minhash_lsh_pairs. Either way a band hashes to the first 8 hex
    chars of the md5 of its comma-joined mins."""
    check_hash_mode(hash_mode, ("poly", "md5"))
    rows_per_band = num_perm // bands
    if hash_mode == "poly":
        sig_udf = _minhash_signatures_pandas_udf(k, num_perm)
        sig = df.select(F.col(id_col).alias("id"),
                        sig_udf(F.col(text_col)).alias("mh"))
    else:
        # Each stage lands in its own projection: _norm so the
        # normalize regex runs once per DOC (inlined into the shingle
        # lambda it re-runs once per SHINGLE — the O(len^2) curate
        # hang); hs so the 8-gram string hashes run once per doc
        # (the num_perm permutations are multiply-adds over hs;
        # CollapseProject won't inline an alias referenced num_perm
        # times, so the scan stays single-pass).
        sig = (
            df.select(F.col(id_col).alias("id"),
                      normalize_text(F.col(text_col)).alias("_norm"))
            .select("id", shingles_of_norm(F.col("_norm"), k).alias("sh"))
            .withColumn("hs", shingle_hashes_md5(F.col("sh")))
            .withColumn("mh",
                        minhash_signature_from_hashes(F.col("hs"), num_perm))
        )

    def band_hash(b):
        joined = F.concat_ws(
            ",", F.slice(F.col("mh"), b * rows_per_band + 1, rows_per_band))
        return F.conv(F.substring(F.md5(joined.cast("binary")), 1, 8),
                      16, 10).cast("long")

    return sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), band_hash(b).alias("band_hash"))
            for b in range(bands)])).alias("bb"),
    ).select("id", "bb.band", "bb.band_hash")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 8,
                      num_perm: int = 32, bands: int = 8,
                      threshold: float = 0.7, max_bucket: int = 1000,
                      spread: int = 0, hash_mode: str = "poly",
                      return_report: bool = False):
    """MinHash + LSH near-dup pairs: shingle -> minhash -> band buckets ->
    hot-bucket cap -> bucket self-join -> exact-Jaccard verify.

    Shuffles once on (band, band_hash); candidate fanout is bounded by
    bucket size (cap_buckets guards the degenerate-bucket quadratic),
    never all-pairs. rows_per_band = num_perm // bands.
    return_report=True returns (pairs, report): the one-row cap_buckets
    drop-counter frame production callers must log (a capped run says
    what it capped).

    hash_mode selects the shingle-hash family for candidate generation
    and for the Jaccard verify; any other value raises ValueError:
      'poly' (default) — numpy rolling-hash pandas UDFs, one matmul per
                  doc. The verify runs over the same 31-bit shingle
                  hashes the signatures use, which differs from string
                  shingles only on hash collisions (~n²/2³² per doc, see
                  _shingle_hashes_pandas_udf). NULL text normalizes to
                  '', so NULL and empty texts pair with jaccard 1.0.
      'md5'     — DuckDB-expressible expressions over exact string
                  shingles; the driver oracle replays the identical
                  algorithm in SQL against this mode.
    """
    df = _spread(df, spread)
    banded = minhash_band_rows(df, text_col=text_col, id_col=id_col, k=k,
                               num_perm=num_perm, bands=bands,
                               hash_mode=hash_mode)
    # EAGER localCheckpoint ABOVE the cap: cap_buckets itself consumes
    # the band rows twice (rows + per-bucket counts), and downstream
    # the capped rows feed the self-join's two sides — without a cut
    # the signature computation re-runs at every consumer site (a lazy
    # checkpoint does NOT stop this: the consumers compile into one
    # job whose stages race to compute the same partitions before the
    # cache fills — measured as the dominant wall of a 17k-doc pairs
    # call). Band rows are ids-only — bands rows per document — so the
    # materialization is bytes per doc, the cheapest cut point; the
    # report frame reads the same cached rows.
    banded = banded.localCheckpoint()
    uncapped = banded
    banded = cap_buckets(banded, ["band", "band_hash"], max_bucket)

    cand = (
        banded.alias("l").join(banded.alias("r"),
                               on=["band", "band_hash"], how="inner")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # Materialized: cand feeds FIVE plan sites (the output spine +
        # two union legs inside cand_ids for EACH of the sh_a/sh_b
        # joins), and Catalyst expands the self-join + distinct subtree
        # at every site — measured 13.5s of a 17k-doc pairs call spent
        # re-running it. Candidate pairs are ids-only and cap-bounded,
        # so the cut is bytes per candidate.
        .localCheckpoint()
    )
    # Exact-Jaccard verify over CANDIDATE documents only: the ids in
    # any surviving bucket pair semi-filter the corpus BEFORE the
    # shingle arrays are built, so the expression shingles (interpreted
    # HOFs — linear but not cheap) run over the capped candidate set,
    # never the whole corpus. Without the semi-join this stage was the
    # corpus-sized O(docs·len) wall the docstring's "shingles re-derive
    # later for the (small) candidate set" already promised to avoid.
    cand_ids = (cand.select(F.col("id_a").alias("id"))
                .union(cand.select(F.col("id_b").alias("id")))
                .distinct())
    if hash_mode == "poly":
        # Vectorized verify: distinct shingle HASHES per candidate doc
        # (same rolling family as the signatures) — the interpreted
        # shingle expression was 256 ms/doc here, the numpy pass is
        # ~0.3 ms (see _shingle_hashes_pandas_udf for the collision
        # note).
        sh_udf = _shingle_hashes_pandas_udf(k)
        sh_df = (df.select(F.col(id_col).alias("id"), F.col(text_col))
                 .join(cand_ids, "id", "left_semi")
                 .select("id", sh_udf(F.col(text_col)).alias("sh")))
    else:
        sh_df = (df.select(F.col(id_col).alias("id"),
                           normalize_text(F.col(text_col)).alias("_norm"))
                 .join(cand_ids, "id", "left_semi")
                 .select("id",
                         shingles_of_norm(F.col("_norm"), k).alias("sh")))
    # Materialized: consumed by both the sh_a and sh_b joins, which
    # would otherwise each re-run the corpus-wide scan + candidate
    # shingle build. Size is bounded by the candidate set
    # (cap_buckets), and localCheckpoint spills MEMORY_AND_DISK.
    sh_df = sh_df.localCheckpoint()
    pairs = (
        cand.join(sh_df.select(F.col("id").alias("id_a"),
                               F.col("sh").alias("sh_a")), "id_a")
        .join(sh_df.select(F.col("id").alias("id_b"),
                           F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if return_report:
        return pairs, bucket_report(uncapped, ["band", "band_hash"], max_bucket)
    return pairs


def token_hashes(c):
    """xxhash64 of every whitespace token — materialize ONCE (its own
    projection) before the per-bit vote fanout."""
    return F.transform(F.split(F.trim(normalize_text(c)), " "),
                       lambda t: F.xxhash64(t))


def token_hashes_md5(c):
    """md5-derived 64-bit token hashes (DuckDB-expressible twin of
    token_hashes; the oracle recomputes per-bit votes from the two
    32-bit md5 hex words)."""
    return F.transform(F.split(F.trim(normalize_text(c)), " "), md5_hash64)


def _signed64(val: int):
    """Python int bit pattern -> signed-long literal."""
    return F.lit(val - (1 << 64) if val >= 1 << 63 else val).cast("long")


# Bits k, k+16, k+32, k+48 of (h >>> k) land exactly at lane offsets
# 0/16/32/48 under this mask — one shift+and+add accumulates FOUR
# per-bit set counts per token.
_LANE_MASK = 0x0001_0001_0001_0001


def _simhash_packed(hash_arr):
    """16 array traversals instead of 64: aggregate k accumulates the
    set-bit counts of bit positions {k, k+16, k+32, k+48} in four
    16-bit lanes of one long. Lanes can't carry into each other while
    every count < 2^16, i.e. docs under 65536 tokens (the caller
    guards). Fingerprint bit b = (2 * count_b > n_tokens) — identical
    tie semantics to the +1/-1 vote form (vote > 0 <=> 2c - n > 0)."""
    n = F.size(hash_arr).cast("long")

    # NB: a `lambda a, h, k=k:` default-arg capture would change the
    # visible arity — pyspark builds the lambda expression from the
    # signature — so bind k via a closure factory instead.
    def step(k: int):
        return lambda a, h: a + F.shiftrightunsigned(h, k).bitwiseAND(
            _signed64(_LANE_MASK))

    packs = [F.aggregate(hash_arr, F.lit(0).cast("long"), step(k))
             for k in range(16)]
    fp = F.lit(0).cast("long")
    for k in range(16):
        for j in range(4):
            b = k + 16 * j
            cnt = (F.shiftrightunsigned(packs[k], 16 * j)
                   .bitwiseAND(F.lit(0xFFFF).cast("long")))
            fp = fp.bitwiseOR(
                F.when(cnt * 2 > n, _signed64(1 << b))
                .otherwise(F.lit(0).cast("long")))
    return fp


def _simhash_unpacked(hash_arr, bits: int = 64):
    """One aggregate per bit — the always-correct form for degenerate
    >=65536-token documents where the packed lanes would overflow."""
    fp = F.lit(0).cast("long")
    for b in range(bits):
        # vote_b = sum(2*bit_b(h) - 1) over tokens
        vote = F.aggregate(
            hash_arr, F.lit(0).cast("long"),
            lambda a, h: a + F.shiftrightunsigned(h, b)
            .bitwiseAND(F.lit(1).cast("long")) * 2 - 1)
        fp = fp.bitwiseOR(
            F.when(vote > 0, _signed64(1 << b))
            .otherwise(F.lit(0).cast("long")))
    return fp


def simhash_from_hashes(hash_arr, bits: int = 64):
    """One-hash SimHash packed into a BIGINT: bit b of the fingerprint
    is 1 iff the sum over tokens of (+1 if bit b of the token's hash is
    set, else -1) is positive. One string hash per token; per-bit votes
    are shift/and/add arithmetic, lane-packed 4-per-aggregate (16 array
    passes instead of 64 — measured 2.2x on the sf0.1 corpus).

    The packed lanes hold counts < 2^16, so votes run over the FIRST
    65,535 token hashes: for monster documents beyond that, the
    fingerprint is a deterministic prefix-sample SimHash — the standard
    sampling trade-off production near-dup pipelines make (hashing a
    bounded sample of a multi-hundred-KB doc loses nothing for 3-bit
    hamming dedup). A per-row `when` fallback to the unpacked form was
    measured SLOWER than the unpacked form alone (the dual-branch
    expression tree poisons codegen), hence the slice.

    Statically unrolled — shift amounts must be Python ints in the
    DataFrame API."""
    if bits != 64:
        return _simhash_unpacked(hash_arr, bits)
    return _simhash_packed(F.slice(hash_arr, 1, (1 << 16) - 1))


def simhash(c, bits: int = 64):
    """SimHash of a text column (convenience wrapper; inside a plan
    prefer materializing token_hashes in its own projection first so
    the token hashing runs once, not once per bit)."""
    return simhash_from_hashes(token_hashes(c), bits)


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int = 1000, spread: int = 0,
                  hash_mode: str = "xxhash64",
                  return_report: bool = False):
    """SimHash near-dup pairs: 64-bit fingerprint, candidate buckets by
    16-bit chunk (pigeonhole: hamming<=3 pairs share >=1 of 4 chunks),
    hot-bucket cap, verified with bit_count(xor).

    hash_mode: 'xxhash64' (production) or 'md5' (DuckDB-oracle twin);
    any other value raises ValueError. return_report=True returns
    (pairs, report) with the cap_buckets drop counters.
    """
    check_hash_mode(hash_mode, ("xxhash64", "md5"))
    hash_tokens = token_hashes if hash_mode == "xxhash64" else token_hashes_md5
    fp = (_spread(df, spread)
          .select(F.col(id_col).alias("id"),
                  hash_tokens(F.col(text_col)).alias("hs"))
          .select("id", simhash_from_hashes(F.col("hs")).alias("fp")))
    chunked = fp.select(
        "id", "fp",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright(F.col("fp"), i * 16)
                .bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"))
            for i in range(4)])).alias("cc"),
    ).select("id", "fp", "cc.chunk", "cc.chunk_val")
    uncapped = chunked
    chunked = cap_buckets(chunked, ["chunk", "chunk_val"], max_bucket)
    l, r = chunked.alias("l"), chunked.alias("r")
    pairs = (
        l.join(r, on=["chunk", "chunk_val"], how="inner")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.bit_count(F.col("l.fp").bitwiseXOR(F.col("r.fp"))).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    if return_report:
        return pairs, bucket_report(uncapped, ["chunk", "chunk_val"], max_bucket)
    return pairs


def _ngram_anchor_pandas_udf(k: int, anchor_perms: int, anchor_rows: int,
                             length_band: int):
    """Vectorized (band, anchors) signatures: the 'poly' MinHash mins
    (_poly_minhash), anchor_rows mins packed per anchor as
    (((m0<<31)^m1)...). One matrix op per doc instead of interpreted
    higher-order-function passes — measured 30s -> sub-second on the
    sf0.1 bench corpus (Catalyst HOFs don't codegen, and
    CollapseProject nests the normalize regex inside the per-element
    lambdas)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_type = StructType([StructField("band", LongType()),
                           StructField("an", ArrayType(LongType()))])

    @pandas_udf(out_type)
    def sig(texts: pd.Series) -> pd.DataFrame:
        import numpy as np
        norm = _norm_series(texts)
        anchors = []
        for mins in _poly_minhash(norm, k, anchor_perms * anchor_rows):
            packed = mins.reshape(anchor_perms, anchor_rows)
            a = packed[:, 0].copy()
            for r in range(1, anchor_rows):
                a = (a << np.uint64(31)) ^ packed[:, r]
            anchors.append(a.astype(np.int64))
        return pd.DataFrame({"band": norm.str.len() // length_band,
                             "an": anchors})

    return sig


def _shingle_hash64_pandas_udf(k: int):
    """Per-DOC sorted unique 64-bit char-k-gram hashes, vectorized.

    The verify stage's whole cost model: hashing a doc's shingle set is
    one numpy pass (UTF-32 view -> sliding window -> polynomial matmul
    mod 2^64), done ONCE per candidate doc, where the r3/r4 verify
    rebuilt Python string-shingle sets per PAIR (~20 rebuilds per doc on
    the bench corpus — measured as ~9.5s of the operator's ~10.5s wall
    at sf0.1). UTF-32 code-point windows keep CHARACTER k-gram
    semantics identical to the `shingles` expression and
    `_py_ngram_jaccard` (byte windows would diverge on non-ASCII text).
    Short texts (< k chars) hash their zero-padded self — the same
    "lone truncated shingle" identity class as the string twin.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def sh64(texts: pd.Series) -> pd.Series:
        import numpy as np
        norm = _norm_series(texts)
        powers = (np.uint64(1_000_003) **
                  np.arange(k - 1, -1, -1, dtype=np.uint64))
        out = []
        for s in norm:
            cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
            if len(cp) < k:
                cp = np.pad(cp, (0, k - len(cp)))
                n_sh = 1
            else:
                n_sh = len(cp) - k + 1
            win = np.lib.stride_tricks.sliding_window_view(cp, k)[:n_sh]
            h = win.astype(np.uint64) @ powers  # natural mod-2^64 wrap
            out.append(np.unique(h).view(np.int64))
        return pd.Series(out)

    return sh64


def _py_ngram_jaccard(k: int):
    """Exact char-k-gram Jaccard, the python twin of the `jaccard` +
    `shingles` expressions (same <k short-shingle edge: a text shorter
    than k contributes its own truncated self)."""
    import re as _re
    ws = _re.compile(r"\s+")

    def sh_set(t: str) -> set:
        norm = ws.sub(" ", (t or "").strip().lower())
        n = len(norm)
        return {norm[j:j + k] for j in range(max(n - k + 1, 1))}

    def jac(a: str, b: str) -> float:
        sa, sb = sh_set(a), sh_set(b)
        union = len(sa | sb)
        return (len(sa & sb) / union) if union else 0.0

    return jac


def derive_anchor_perms(threshold: float, anchor_rows: int,
                        target_recall: float = 0.95,
                        max_perms: int = 64) -> int:
    """Smallest anchor count p with candidate recall
    1-(1-threshold^anchor_rows)^p >= target_recall at J = threshold —
    so the operator's DEFAULT parameters never silently under-recall
    at the operator's own advertised threshold (the r3 trap: fixed
    p=6 gave 0.82 recall at J=0.5).

    Capped at ``max_perms`` (64): below threshold ~0.25 the derivation
    explodes (p ~ log(1-recall)/log(1-J^r) — 1197 anchors at J=0.05),
    and a thousand-permutation signature stage is a plan/memory
    blowup, not a recall strategy. At the cap the recall guarantee no
    longer holds; very low thresholds need a different blocking scheme
    (or the exact cosine/verify-everything path), not more anchors."""
    import math
    threshold = min(max(threshold, 0.0), 1.0)
    target_recall = min(target_recall, 0.9999)
    miss = 1.0 - threshold ** anchor_rows
    if miss <= 0.0:
        return 1
    if miss >= 1.0:
        return max_perms
    p = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(miss)))
    while 1.0 - miss ** p < target_recall and p < max_perms:
        p += 1
    return min(p, max_perms)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        threshold: float = 0.5,
                        length_band: int = 32, max_bucket: int = 10_000,
                        anchor_perms: int | None = None,
                        anchor_rows: int = 2,
                        spread: int = 0, return_report: bool = False):
    """Exact n-gram Jaccard pairs with (length band, anchor) blocking.

    Blocking key = the length band (docs whose normalized lengths differ
    by more than a band can't reach high Jaccard) COMPOSED WITH an
    anchor: `anchor_rows` independent 1-permutation MinHash mins packed
    into one value (an r-row LSH band over the shingle set). Two docs
    collide iff they share a length band AND all `anchor_rows` mins of
    some anchor — P[collide] = J^anchor_rows per anchor, so a popular
    length band is never all-pairs (the r2 scale-killer) AND weakly
    similar templated docs don't flood the verify stage (the r3.1
    bench-killer: 1-row anchors collide with probability J, which on a
    templated corpus made 3.5% of ALL pairs candidates — 442k
    candidates for 255 true pairs at sf0.1).

    Recall: 1-(1-J^anchor_rows)^anchor_perms. When anchor_perms is
    None (the default) it is DERIVED from the threshold so candidate
    recall at J = threshold is >= 0.95 (derive_anchor_perms): p=11 at
    threshold 0.5 (recall 0.958 at J=0.5, 0.9994 at J=0.7), p=5 at
    0.7, p=2 at 0.9. Pass an explicit anchor_perms to trade recall
    for cost. Exact duplicates always collide; a planted-pairs
    recall-floor test pins the default configuration.

    Anchors are 'poly' MinHash mins (one numpy pass per Arrow batch);
    the verify stage is hash-independent.

    Scale shape: blocking rows carry ONLY (id, band, perm, anchor) —
    shingle arrays never ride the blocking shuffle; within-bucket pairs
    come from a collect_list + pipelined generators on the window-cap's
    own exchange (no self-join, no join-side sorts); verify hashes each
    candidate doc's char-shingle set ONCE (64-bit, numpy-vectorized,
    semi-joined to candidate ids) and intersects sorted hash arrays per
    pair — value-identical to exact string Jaccard up to a ~1e-12
    within-pair 64-bit collision. With return_report=True returns
    (pairs, report) where report is the one-row cap_buckets
    drop-counter frame.
    """
    if anchor_perms is None:
        anchor_perms = derive_anchor_perms(threshold, anchor_rows)
    base = _spread(df, spread).select(F.col(id_col).alias("id"),
                                      F.col(text_col).alias("txt"))
    sig_udf = _ngram_anchor_pandas_udf(k, anchor_perms, anchor_rows,
                                       length_band)
    sigs = base.select("id", sig_udf(F.col("txt")).alias("s"))\
        .select("id", F.col("s.band").alias("band"),
                F.col("s.an").alias("an"))
    keyed = (
        sigs.select("id", "an",
                    F.explode(F.array(F.col("band"),
                                      F.col("band") + 1)).alias("b"))
        .select("id", "b", F.posexplode("an").alias("perm", "anchor")))
    capped = cap_buckets(keyed, ["b", "perm", "anchor"], max_bucket)
    # Within-bucket pair generation WITHOUT a self-join: collect each
    # bucket's ids (bounded by max_bucket — the window cap above already
    # dropped degenerate buckets, streaming, before anything is
    # materialized) and emit i<j combinations through two pipelined
    # generators (posexplode -> slice -> explode, never the full combo
    # array in memory). The groupBy clusters on exactly the keys the
    # window partitioned on, so EnsureRequirements inserts NO second
    # exchange — one ids-only shuffle total where the r3 form paid the
    # same exchange plus two join-side sorts and a sort-merge self-join.
    # The candidate SET is identical (every unordered id pair sharing a
    # bucket, once per bucket), so oracles and planted-pair tests are
    # mechanism-independent.
    buckets = (capped.groupBy("b", "perm", "anchor")
               .agg(F.collect_list("id").alias("ids"))
               .filter(F.size("ids") >= 2))
    cand = (
        buckets.select(F.posexplode("ids").alias("i", "x"), "ids")
        .select("x", F.explode(F.slice(F.col("ids"), F.col("i") + 2,
                                       F.size("ids"))).alias("y"))
        # x != y: a duplicated input id lands twice in one bucket and
        # the i<j combination emits (x, x) — least/greatest would keep
        # it, breaking the id_a < id_b contract downstream (dedup_resolve
        # would see a self-loop). The strict filter restores the old
        # self-join's l.id < r.id exclusion.
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("id_a"),
                F.greatest("x", "y").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify: Jaccard over 64-bit-hashed char-shingle sets, hashed ONCE
    # per candidate doc (semi-joined ids -> texts -> one vectorized
    # numpy pass) and compared per pair with np.intersect1d over sorted
    # arrays. Value-identical to exact string-shingle Jaccard unless
    # two distinct shingles in one pair's union collide in 64 bits
    # (P ~ |union|^2 / 2^65 — < 1e-12 even at million-shingle docs), so
    # planted-truth tests and thresholds see exact values. This replaced
    # a per-PAIR Python set build (each doc re-shingled once per partner;
    # ~20x redundant on the bench corpus): sf0.1 verify 9.5s -> ~1.5s.
    # Scale shape: the candidate-ids semi-join keeps the corpus-side
    # text shuffle pruned to docs that actually appear in a pair.
    sh64 = _shingle_hash64_pandas_udf(k)
    cids = (cand.select(F.col("id_a").alias("id"))
            .union(cand.select(F.col("id_b").alias("id")))
            .distinct())
    # dropDuplicates(id): a duplicated input id would put TWO rows in
    # doc_sh and the verify joins would fan each of its pairs back out
    # — the once-per-pair output contract holds even on non-unique
    # id_col input (which text wins is arbitrary, as is the pair's
    # membership itself under a duplicated id).
    doc_sh = (base.join(cids, "id").dropDuplicates(["id"])
              .select("id", sh64(F.col("txt")).alias("sh")))
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def jac64_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np
        out = np.empty(len(a), dtype=np.float64)
        for i, (x, y) in enumerate(zip(a, b)):
            inter = np.intersect1d(x, y, assume_unique=True).size
            union = len(x) + len(y) - inter
            out[i] = inter / union if union else 0.0
        return pd.Series(out)

    pairs = (
        cand.join(doc_sh.select(F.col("id").alias("id_a"),
                                F.col("sh").alias("sh_a")), "id_a")
        .join(doc_sh.select(F.col("id").alias("id_b"),
                            F.col("sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", jac64_udf(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if return_report:
        return pairs, bucket_report(keyed, ["b", "perm", "anchor"], max_bucket)
    return pairs


# ---------------------------------------------------------------------------
# Near-dup RESOLUTION: pairs -> connected components -> one survivor
# per cluster -> a filtered corpus. The four near-dup operators above
# emit PAIRS; a training-data pipeline isn't deduplicated until the
# corpus actually shrinks — these two operators finish the job.
# ---------------------------------------------------------------------------

def dedup_resolve(pairs: DataFrame, docs: DataFrame | None = None,
                  id_col: str = "doc_id",
                  quality_col: str | None = None,
                  max_iters: int = 25,
                  return_stats: bool = False):
    """Near-dup pairs -> clusters -> canonical-survivor decisions.

    Connected components by iterative min-label propagation WITH
    pointer jumping (each round every vertex takes the min label over
    itself + neighbors, then labels compress one hop: comp <-
    comp[comp]), so convergence is O(log diameter) rounds, not
    O(diameter) — a 1M-doc mirror chain resolves in ~20 rounds instead
    of 1M. No graphframes dependency: each round is two ids-only
    equi-joins + one min-aggregation, AQE-friendly, and the per-round
    frame is localCheckpoint()-ed so the iterative plan never grows
    (lineage blowup is the classic Spark iterative-join failure).
    Convergence is detected by counting changed labels per round
    (type-agnostic: ids may be longs or urls; label min is
    lexicographic for strings), one inner join over the checkpointed
    label frames.

    Survivor selection: with ``quality_col`` (+ ``docs``), the
    max-quality member wins (ties -> min id); otherwise the min-id
    member — which is exactly the converged component label, so no
    extra pass. With ``docs`` given, documents in NO pair are appended
    as their own singleton cluster (keep = true), so the output covers
    the whole corpus, not just the contested part.

    Returns (id_col, cluster, keep); with return_stats=True returns
    (frame, {"iterations": n, "converged": bool}).
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.union(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))).persist()
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .select("id", F.col("id").alias("comp"))
              .localCheckpoint())
    iters, converged = 0, False
    for iters in range(1, max_iters + 1):
        msgs = (edges.join(labels, edges.src == labels.id)
                .select(F.col("dst").alias("id"), "comp"))
        new = (labels.unionByName(msgs)
               .groupBy("id").agg(F.min("comp").alias("comp")))
        # Pointer jump: comp values are vertex ids, so compress one hop.
        hop = new.select(F.col("id").alias("comp"),
                         F.col("comp").alias("_comp2"))
        new = (new.join(hop, "comp")
               .select("id", F.col("_comp2").alias("comp"))
               .localCheckpoint())
        changed = (new.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.comp") != F.col("o.comp"))
                   .count())
        labels = new
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if quality_col is not None and docs is not None:
        q = docs.select(F.col(id_col).alias("id"),
                        F.col(quality_col).alias("_q"))
        w = Window.partitionBy("comp").orderBy(F.col("_q").desc_nulls_last(),
                                               F.col("id").asc())
        out = (labels.join(q, "id", "left")
               .withColumn("_rn", F.row_number().over(w))
               .select(F.col("id").alias(id_col),
                       F.col("comp").alias("cluster"),
                       (F.col("_rn") == 1).alias("keep")))
    else:
        out = labels.select(F.col("id").alias(id_col),
                            F.col("comp").alias("cluster"),
                            (F.col("id") == F.col("comp")).alias("keep"))
    if docs is not None:
        singles = (docs.select(F.col(id_col))
                   .join(labels.select(F.col("id").alias(id_col)),
                         id_col, "left_anti")
                   .select(F.col(id_col),
                           F.col(id_col).alias("cluster"),
                           F.lit(True).alias("keep")))
        out = out.unionByName(singles)
    if return_stats:
        return out, {"iterations": iters, "converged": converged}
    return out


def dedup_apply(docs: DataFrame, resolved: DataFrame,
                id_col: str = "doc_id") -> DataFrame:
    """Shrink the corpus to near-dup survivors: one broadcast-or-
    shuffled LEFT ANTI join against the loser set (losers are the
    resolved rows with keep = false — typically a small fraction of
    the corpus, so the anti-join's build side stays light)."""
    losers = resolved.filter(~F.col("keep")).select(F.col(id_col))
    return docs.join(losers, on=id_col, how="left_anti")


def recrawl_dedup(docs: DataFrame, url_col: str = "url",
                  ts_col: str = "warc_ts") -> DataFrame:
    """Collapse recrawls: keep ONE row per canonical URL — the most
    recent by ``ts_col`` (any orderable recency column), ties broken
    by raw url ascending (deterministic across engines). The
    canonical key is the pure-expression ``url_normalize`` (fragment
    strip, case/port fold, tracking-param strip, param sort), so the
    four spellings a crawler sees for one page group together.

    Output = the kept input rows + a ``canonical_url`` column.

    Scale: ONE shuffle on the canonical key; per-key group size is
    the recrawl count of a page (bounded small in practice — crawl
    snapshots revisit a URL a handful of times), so the ranking
    window never sees corpus-dimensional partitions. This is the
    standard keep-latest collapse every Common-Crawl-derived corpus
    applies before content-level dedup."""
    from ..functions.expressions import url_normalize
    w = (Window.partitionBy("canonical_url")
         .orderBy(F.desc_nulls_last(ts_col), F.asc(url_col)))
    return (docs
            .withColumn("canonical_url", url_normalize(F.col(url_col)))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))

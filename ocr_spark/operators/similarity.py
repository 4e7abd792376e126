"""Approximate-nearest-neighbor search over an embedding column.

Brute-force cosine top-k is the correctness baseline (still distributed:
queries broadcast, corpus scanned once, per-query heap via window).
The scale path is sign-LSH bucketing with deterministic hyperplanes —
candidates come from matching buckets only, so corpus fanout per query
is bounded by bucket occupancy instead of |corpus|.

Dot products use F.zip_with + F.aggregate — JVM-side, left-to-right
summation order (deterministic, matches a sequential oracle).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                query_id: str = "vec_id", corpus_id: str = "vec_id",
                vec_col: str = "embedding", prune: bool = True,
                prune_margin: int = 8) -> DataFrame:
    """Exact cosine top-k: the corpus is scanned once against the
    (small, broadcast) query set; final scores are the exact
    left-to-right expression cosine (oracle-parity) with a
    deterministic tie-break on corpus id.

    Scale shape (prune=True, default): the naive form ships EVERY
    scored (corpus x query) row through the ranking window's exchange
    — |C| x |Q| rows, the actual scale-killer of a "brute-force"
    operator at 10^9 docs. Instead an executor-side BLAS prune
    (mapInPandas over corpus batches; the query matrix rides a
    broadcast variable — the same driver materialization F.broadcast
    performs internally, bounded by the small-query contract) emits
    only each batch's top-(k+prune_margin) candidate ids per query,
    ordered by (-cos, corpus_id) so ties resolve identically to the
    final window. Shuffle volume drops to batches x |Q| x (k+margin)
    id pairs; the exact expression re-score + global window runs on
    candidates only. prune_margin absorbs BLAS-vs-expression summation
    divergence (~1e-13 relative) at the k boundary — same documented
    epsilon trade-off as the LSH signature fast path; set prune=False
    for the pure-expression plan.

    Construction-time cost note (prune=True): materializing the query
    matrix runs ONE Spark job over the (small, contract-bounded) query
    side at plan-construction time — callers that only .explain() the
    returned plan still pay that small job. The query-matrix broadcast
    is released by Spark's ContextCleaner once the returned plan is
    unreachable; pass prune=False for a fully lazy, broadcast-free
    plan."""
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    if prune:
        # The prune path emits integer id pairs; non-integer ids fall
        # back to the pure-expression plan.
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
        int_types = (ByteType, ShortType, IntegerType, LongType)
        if not (isinstance(q.schema["query_id"].dataType, int_types)
                and isinstance(c.schema["corpus_id"].dataType, int_types)):
            prune = False
    if prune:
        qrows = q.collect()
        if not qrows:
            return (c.limit(0).crossJoin(q.limit(0))
                    .select("query_id", "corpus_id",
                            F.lit(0.0).alias("cos_sim"),
                            F.lit(0).alias("rank")))
        import numpy as np
        qids = np.array([r["query_id"] for r in qrows])
        qmat = np.vstack([np.asarray(r["qv"], dtype=np.float64)
                          for r in qrows])
        qnorm = np.linalg.norm(qmat, axis=1, keepdims=True)
        qmat = np.divide(qmat, qnorm, out=np.zeros_like(qmat),
                         where=qnorm != 0)
        bq = c.sparkSession.sparkContext.broadcast((qids, qmat))
        take = k + prune_margin
        out_schema = "query_id long, corpus_id long"

        def prune_fn(batches):
            import numpy as _np
            import pandas as _pd
            ids_q, mat_q = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                cids = pdf["corpus_id"].to_numpy()
                cmat = _np.vstack([_np.asarray(v, dtype=_np.float64)
                                   for v in pdf["cv"]])
                cnorm = _np.linalg.norm(cmat, axis=1, keepdims=True)
                cmat = _np.divide(cmat, cnorm,
                                  out=_np.zeros_like(cmat),
                                  where=cnorm != 0)
                sims = cmat @ mat_q.T  # (n_c, n_q)
                n_take = min(take, len(cids))
                # Deterministic per-query order: (-cos, corpus_id) —
                # identical to the final window's tie-break. argpartition
                # narrows to the top-n_take first (O(n) vs a full-batch
                # lexsort per query); cosine ties AT the partition
                # boundary are re-included before the survivors-only
                # lexsort so boundary duplicates can't be dropped by
                # partition order.
                qs, cs = [], []
                for j in range(len(ids_q)):
                    col = sims[:, j]
                    if n_take < len(cids):
                        part = _np.argpartition(-col, n_take - 1)[:n_take]
                        sel = _np.flatnonzero(col >= col[part].min())
                    else:
                        sel = _np.arange(len(cids))
                    order = sel[_np.lexsort((cids[sel], -col[sel]))][:n_take]
                    qs.append(_np.full(len(order), ids_q[j]))
                    cs.append(cids[order])
                yield _pd.DataFrame({
                    "query_id": _np.concatenate(qs),
                    "corpus_id": _np.concatenate(cs)})

        cand = c.mapInPandas(prune_fn, out_schema)
        scored = (cand.join(c, "corpus_id")
                  .join(F.broadcast(q), "query_id")
                  .select("query_id", "corpus_id",
                          cosine(F.col("qv"), F.col("cv"))
                          .alias("cos_sim"))
                  .filter(F.col("query_id") != F.col("corpus_id")))
    else:
        scored = c.crossJoin(F.broadcast(q)).select(
            "query_id", "corpus_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        ).filter(F.col("query_id") != F.col("corpus_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def lsh_sign_bucket(vec, planes: int = 12, table: int = 0):
    """Deterministic random-hyperplane signature packed into a BIGINT.

    Plane weights derive from md5('{table},{plane},{dim_index}') mapped
    to [-0.5, 0.5] (_md5_weight_matrix) — no RNG state, identical on
    every executor and run, and DuckDB-expressible for the driver
    oracle. ``table`` seeds independent hash tables for multi-table
    LSH. This Catalyst form is the reference the BLAS path
    (_lsh_buckets_pandas_udf) is tested against.
    """
    def _weights(plane: int):
        return F.transform(
            F.sequence(F.lit(0), F.size(vec) - 1),
            lambda d: (F.pmod(
                F.conv(F.substring(F.md5(F.concat(
                    F.lit(f"{table},{plane},"), d.cast("string")
                ).cast("binary")), 1, 8), 16, 10).cast("long"),
                F.lit(1000)).cast("double") / 1000.0 - 0.5))

    sig = F.lit(0).cast("long")
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(vec, _weights(p), lambda x, w: x * w),
            F.lit(0.0), lambda acc, v: acc + v)
        sig = sig.bitwiseOR(
            F.when(proj > 0, F.lit(1 << p).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return sig


def _lsh_tables(vec, planes: int, tables: int):
    """ARRAY<STRUCT<table,bucket>>: one sign signature per hash table.
    Multi-table LSH: a pair is a candidate if it collides in ANY table —
    recall no longer depends on a single lucky signature (the
    single-table exact-match form has uncontrolled recall at scale)."""
    return F.array(*[
        F.struct(F.lit(t).alias("table"),
                 lsh_sign_bucket(vec, planes, table=t).alias("bucket"))
        for t in range(tables)])


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    from .dedup import cap_buckets
    return cap_buckets(df, keys, max_bucket)


def _md5_weight_matrix(dim: int, planes: int, tables: int):
    """The md5 hash-family plane weights as a numpy (dim, tables*planes)
    matrix — identical values to lsh_sign_bucket:
    w(t,p,d) = (int(md5('{t},{p},{d}')[:8hex], 16) % 1000)/1000 - 0.5."""
    import hashlib

    import numpy as np
    W = np.empty((dim, tables * planes), dtype=np.float64)
    for t in range(tables):
        for p in range(planes):
            col = t * planes + p
            for d in range(dim):
                h = int(hashlib.md5(f"{t},{p},{d}".encode()).hexdigest()[:8], 16)
                W[d, col] = (h % 1000) / 1000.0 - 0.5
    return W


def _lsh_buckets_pandas_udf(planes: int, tables: int, probes: int = 0):
    """Vectorized signature computation: one BLAS matmul per Arrow batch
    instead of tables x planes interpreted higher-order-function passes
    per row (Catalyst HOFs don't codegen — measured ~10x on the bench).
    Returns ARRAY<LONG> of per-table buckets; bucket t at index t.
    Bit-exact with the lsh_sign_bucket expression (pytest asserts it).

    Equivalence caveat: `mat @ W` sums in BLAS order while the
    expression form (and DuckDB's list_sum) sums sequentially, so the
    sign test `proj > 0` can disagree for a projection within
    summation error (~1e-13 relative) of exactly 0.0. Equality between
    the three forms therefore holds only when no |projection| is that
    close to zero — for continuous-valued embeddings the probability
    is ~1e-13 per (row, plane), and a disagreement costs one bucket
    bit, i.e. a marginal candidate, never a wrong score (scoring is
    exact cosine downstream). An epsilon grid would only relocate the
    boundary, not remove it, so the trade-off is documented instead."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    weight_cache: dict = {}

    @pandas_udf(ArrayType(LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        import numpy as np
        mat = np.vstack(v.to_numpy())
        dim = mat.shape[1]
        W = weight_cache.get(dim)
        if W is None:
            W = weight_cache.setdefault(
                dim, _md5_weight_matrix(dim, planes, tables))
        proj = mat @ W
        projr = proj.reshape(len(mat), tables, planes)
        bits = (projr > 0).astype(np.int64)
        powers = (1 << np.arange(planes)).astype(np.int64)
        base = bits @ powers  # (n, tables)
        if probes == 0:
            return pd.Series(list(base))
        # Multi-probe (Lv et al. VLDB 2007): the most collision-likely
        # neighbor buckets flip the bits whose projections sit closest
        # to the hyperplane — argsort |projection| per (row, table).
        out = np.empty((len(mat), tables, 1 + probes), dtype=np.int64)
        out[:, :, 0] = base
        order = np.argsort(np.abs(projr), axis=2)
        for j in range(probes):
            out[:, :, 1 + j] = base ^ (1 << order[:, :, j])
        return pd.Series(list(out.reshape(len(mat), -1)))

    return buckets


def _bucket_rows(base: DataFrame, id_col: str, vec_col: str,
                 planes: int, tables: int, probes: int = 0) -> DataFrame:
    """(id, table, bucket) rows for multi-table LSH; with probes > 0
    each row additionally probes that many 1-bit-flipped neighbor
    buckets per table (query-side multi-probe).

    Signatures come from the numpy-matmul pandas UDF: the md5 weight
    matrix is precomputed once per worker, so they cost one BLAS matmul
    per batch.

    probes clamps to [0, planes]: there are only `planes` distinct
    1-bit flips (beyond that the BLAS argsort would fault)."""
    probes = max(0, min(probes, planes))
    udf = _lsh_buckets_pandas_udf(planes, tables, probes)
    step = 1 + probes
    ex = base.select(
        id_col, F.posexplode(udf(F.col(vec_col))).alias("pos", "bucket"))
    return ex.select(id_col,
                     F.floor(F.col("pos") / step).cast("int")
                     .alias("table"), "bucket")


def lsh_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    planes: int = 12, tables: int = 4,
                    query_id: str = "vec_id", corpus_id: str = "vec_id",
                    vec_col: str = "embedding",
                    max_bucket: int = 10_000,
                    probes: int = 0,
                    return_report: bool = False):
    """ANN: multi-table sign-LSH candidate generation, then exact cosine
    scoring of the (deduplicated) candidate set.
    return_report=True returns (topk, report) with the corpus-bucket
    cap_buckets drop counters.

    Scale shape: bucket rows carry ids only — corpus vectors never
    duplicate through the tables-x bucket shuffle; hot corpus buckets
    (signature carries no information there) are capped; candidate ids
    re-join the corpus scan once for scoring. Recall rises with
    `tables`, cost with tables x occupancy.

    Recall contract: sign-LSH retrieves HIGH-cosine neighbors — per
    table P[collision] = (1 - θ/π)^planes, so recall is
    1-(1-(1-θ/π)^p)^T. The tuned default regime (p=8, T=8) measures
    0.99 recall@1 at cos~0.95 with ~3% candidate fraction (bench.py
    reports both numbers per run). On a gap-free corpus (nearest
    neighbors at cos <~ 0.5) no sign-LSH config reaches high recall
    below candidate fraction 1 — use cosine_topk (exact) for ranking
    tasks there.

    ``probes`` (multi-probe LSH, Lv et al. VLDB 2007) additionally
    probes that many 1-bit-flipped QUERY buckets per table — the
    lowest-|projection| bits in the BLAS path — so candidate fraction
    (and recall) tunes up WITHOUT more tables: corpus-side bucket rows,
    the expensive side, stay at one per table. probes=p approaches the
    union of all Hamming-1 buckets (~(1+p)x candidate fraction upper
    bound; overlaps dedup). bench.py measures the natural-corpus
    recall@10 gain at a stated candidate fraction per run.

    Signatures use the md5 hyperplane family through the BLAS matmul
    path (~4x the expression form at sf0.1); the driver oracle replays
    the same family in SQL.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"))
    c = corpus.select(
        F.col(corpus_id).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("cv"))

    q_buckets = _bucket_rows(q, "query_id", "qv", planes, tables,
                             probes=probes)
    c_buckets = _bucket_rows(c, "corpus_id", "cv", planes, tables)
    c_uncapped = c_buckets
    c_buckets = _cap_buckets(c_buckets, ["table", "bucket"], max_bucket)

    cand = (
        c_buckets.join(F.broadcast(q_buckets), ["table", "bucket"], "inner")
        .filter(F.col("query_id") != F.col("corpus_id"))
        .select("query_id", "corpus_id")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    scored = (
        cand.join(c, "corpus_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "corpus_id",
                cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc())
    topk = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
    if return_report:
        from .dedup import bucket_report
        return topk, bucket_report(c_uncapped, ["table", "bucket"], max_bucket)
    return topk


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             planes: int = 10, tables: int = 4,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             max_bucket: int = 1000,
                             return_report: bool = False):
    """Embedding-cosine near-duplicate pairs via multi-table LSH
    self-join: ids-only bucket shuffle, hot-bucket cap, candidate pairs
    deduped across tables, vectors re-joined once for exact scoring.
    Signatures as in lsh_cosine_topk. return_report=True returns
    (pairs, report) with the cap_buckets drop counters."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"))
    buckets = _bucket_rows(base, "id", "v", planes, tables)
    uncapped = buckets
    buckets = _cap_buckets(buckets, ["table", "bucket"], max_bucket)

    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(r, ["table", "bucket"], "inner")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("v").alias("va")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("v").alias("vb")), "id_b")
        .select("id_a", "id_b",
                cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    if return_report:
        from .dedup import bucket_report
        return pairs, bucket_report(uncapped, ["table", "bucket"], max_bucket)
    return pairs


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path.
#
# Sign-LSH above is data-INDEPENDENT: recall is fixed by hyperplane
# geometry, so on a gap-free corpus no configuration reaches high
# recall cheaply (measured in bench.py). IVF is the data-DEPENDENT
# alternative: learn `nlist` centroids from the corpus (spherical
# k-means), assign every corpus vector to exactly ONE cell, and answer
# a query by scoring only the `nprobe` cells whose centroids are
# nearest the query — the classic inverted-file design (Sivic &
# Zisserman, "Video Google", ICCV 2003; the FAISS IndexIVFFlat shape).
#
# Spark mapping, designed for the 100 TB lens:
#  * Centroids are MODEL STATE — nlist x dim doubles, kilobytes — so
#    they live driver-side and enter the plan as literals / broadcast
#    closures, exactly how MLlib ships KMeans coefficients.
#  * Training never shuffles vectors: each Arrow batch emits one
#    (cell, partial_sum, count) frame map-side and the tiny partials
#    reduce on the driver (treeAggregate's shape, without RDDs).
#  * The index is the ids-only (corpus_id, ivf_cid) relation; vectors
#    re-join once for exact scoring — same candidates-then-exact-score
#    contract as the LSH family, so results are always true cosines.
#  * ivf_write_index persists the corpus partitionBy(ivf_cid), turning
#    a probe into a partition-PRUNED scan: nprobe=8 over nlist=1024
#    reads ~0.8% of the files. That scan-level skipping is the reason
#    IVF (not LSH) is the on-disk ANN layout at corpus scale.


def _seed_centroids(c: DataFrame, nlist: int) -> list[list[float]]:
    """Deterministic init: the nlist corpus vectors with the smallest
    ids (orderBy-limit — reproducible on any executor layout)."""
    rows = c.orderBy("corpus_id").limit(nlist).collect()
    return [list(r["cv"]) for r in rows]


def ivf_train(corpus: DataFrame, nlist: int = 16, train_iters: int = 2,
              corpus_id: str = "vec_id", vec_col: str = "embedding"
              ) -> list[list[float]]:
    """Spherical k-means centroids for an IVF index.

    Lloyd iterations on L2-normalized vectors (assignment = max cosine;
    update = renormalized mean — Dhillon & Modha 2001). Assignment runs
    as one BLAS matmul per Arrow batch; each batch contributes a
    (nlist x dim) partial-sum frame, so the shuffle-free reduce moves
    kilobytes per task regardless of corpus size. train_iters=0 returns
    the raw deterministic seeds (the oracle-replayable configuration:
    no floating-point averaging for a second engine to diverge on).

    Empty cells keep their previous centroid (standard Lloyd guard)."""
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    cents = _seed_centroids(c, nlist)
    if train_iters <= 0 or len(cents) < 2:
        return cents
    import numpy as np
    C = np.vstack([np.asarray(v, dtype=np.float64) for v in cents])
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    C = np.divide(C, cn, out=np.zeros_like(C), where=cn != 0)
    k_cells, dim = C.shape
    sc = corpus.sparkSession.sparkContext
    for _ in range(train_iters):
        bc = sc.broadcast(C)

        def partials(batches):
            import numpy as _np
            import pandas as _pd
            W = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                M = _np.vstack([_np.asarray(v, dtype=_np.float64)
                                for v in pdf["cv"]])
                mn = _np.linalg.norm(M, axis=1, keepdims=True)
                M = _np.divide(M, mn, out=_np.zeros_like(M), where=mn != 0)
                a = _np.argmax(M @ W.T, axis=1)  # ties -> lowest cid
                sums = _np.zeros_like(W)
                _np.add.at(sums, a, M)
                counts = _np.bincount(a, minlength=len(W))
                occ = _np.nonzero(counts)[0]
                yield _pd.DataFrame({
                    "cid": occ.astype("int32"),
                    "n": counts[occ].astype("int64"),
                    "s": list(sums[occ])})

        rows = c.mapInPandas(
            partials, "cid int, n long, s array<double>").collect()
        sums = np.zeros((k_cells, dim))
        counts = np.zeros(k_cells, dtype=np.int64)
        for r in rows:
            sums[r["cid"]] += np.asarray(r["s"])
            counts[r["cid"]] += r["n"]
        occ = counts > 0
        newC = C.copy()
        newC[occ] = sums[occ] / counts[occ, None]
        nn = np.linalg.norm(newC, axis=1, keepdims=True)
        C = np.divide(newC, nn, out=np.zeros_like(newC), where=nn != 0)
        bc.destroy()
    return [row.tolist() for row in C]


def _cell_structs(vec, centroids):
    """ARRAY<STRUCT<negcos,cid>> of exact expression cosine against each
    centroid literal — array_min gives the assignment (max cos, ties to
    the lowest cid), array_sort+slice gives the probe list. Pure
    codegen-side expressions: the DuckDB twin replays them bit-for-bit
    (the same sequential-sum cosine the green ann_bruteforce oracle
    already certifies)."""
    entries = []
    for j, cvec in enumerate(centroids):
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        entries.append(F.struct((-cosine(vec, lit)).alias("negcos"),
                                F.lit(j).alias("cid")))
    return F.array(*entries)


def _ivf_assign_blas_udf(centroids, nprobe: int = 1):
    """(query_id/corpus_id, vec) batches -> nearest-`nprobe` cell ids
    per row, one BLAS matmul per Arrow batch. Ties break to the lowest
    cid (stable argsort), matching the expression form; near-tie
    float divergence vs the expression path is the same documented
    boundary epsilon as the LSH BLAS signatures."""
    import numpy as np
    C = np.vstack([np.asarray(v, dtype=np.float64) for v in centroids])
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Ch = np.divide(C, cn, out=np.zeros_like(C), where=cn != 0)

    def assign(batches):
        import numpy as _np
        import pandas as _pd
        for pdf in batches:
            if pdf.empty:
                continue
            id_col = pdf.columns[0]
            M = _np.vstack([_np.asarray(v, dtype=_np.float64)
                            for v in pdf[pdf.columns[1]]])
            mn = _np.linalg.norm(M, axis=1, keepdims=True)
            M = _np.divide(M, mn, out=_np.zeros_like(M), where=mn != 0)
            sims = M @ Ch.T
            order = _np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            yield _pd.DataFrame({
                id_col: _np.repeat(pdf[id_col].to_numpy(), nprobe),
                "ivf_cid": order.reshape(-1).astype("int32")})

    return assign


def _ivf_cells(df: DataFrame, centroids, id_col: str, vec_col: str,
               nprobe: int = 1, mode: str = "blas") -> DataFrame:
    """(id, ivf_cid) rows: the nearest `nprobe` cells per vector.
    nprobe=1 is index assignment; >1 is query-side probing.
    mode='expr' is the pure-expression oracle-parity path, 'blas' the
    one-matmul-per-batch fast path."""
    nprobe = max(1, min(nprobe, len(centroids)))
    base = df.select(F.col(id_col),
                     F.col(vec_col).cast("array<double>").alias("_v"))
    if mode == "blas":
        # Output schema carries the INPUT id type (urls are valid ids
        # in the curation jobs — hardcoding `long` here would crash the
        # blas path for every string-keyed corpus).
        from pyspark.sql.types import IntegerType, StructField, StructType
        out_schema = StructType([base.schema[id_col],
                                 StructField("ivf_cid", IntegerType())])
        return base.mapInPandas(
            _ivf_assign_blas_udf(centroids, nprobe), out_schema)
    structs = _cell_structs(F.col("_v"), centroids)
    if nprobe == 1:
        return base.select(id_col,
                           F.array_min(structs).getField("cid")
                           .alias("ivf_cid"))
    probed = F.transform(F.slice(F.array_sort(structs), 1, nprobe),
                         lambda s: s.getField("cid"))
    return base.select(id_col, F.explode(probed).alias("ivf_cid"))


def ivf_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    nlist: int = 16, nprobe: int = 2,
                    train_iters: int = 2, centroids=None,
                    query_id: str = "vec_id", corpus_id: str = "vec_id",
                    vec_col: str = "embedding",
                    assign_mode: str = "blas",
                    max_cell: int = 1_000_000,
                    return_report: bool = False):
    """ANN: IVF candidate generation, then exact cosine scoring.

    Each corpus vector lives in exactly ONE cell (no cross-table
    dedup step — unlike LSH, candidates are disjoint by construction);
    each query probes its `nprobe` nearest cells. Expected candidate
    fraction ~ occupancy(probed cells)/|corpus|, tunable from nprobe/
    nlist directly. nprobe >= nlist degenerates to the exact
    brute-force result (pytest pins this equivalence).

    centroids: pass a pretrained list (ivf_train) to amortize training
    across searches; None trains here. assign_mode 'expr' keeps
    assignment/probing as pure sequential-sum expressions (the
    DuckDB-oracle family); 'blas' is the matmul fast path.

    max_cell caps degenerate cells (a cell that hot means the quantizer
    carries no information there — same contract as cap_buckets);
    return_report=True returns (topk, report) with the drop counters.
    """
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    if centroids is None:
        centroids = ivf_train(c, nlist=nlist, train_iters=train_iters,
                              corpus_id="corpus_id", vec_col="cv")
    c_cells = _ivf_cells(c, centroids, "corpus_id", "cv",
                         nprobe=1, mode=assign_mode)
    uncapped = c_cells
    c_cells = _cap_buckets(c_cells, ["ivf_cid"], max_cell)
    q_cells = _ivf_cells(q, centroids, "query_id", "qv",
                         nprobe=nprobe, mode=assign_mode)
    cand = (c_cells.join(F.broadcast(q_cells), "ivf_cid")
            .filter(F.col("query_id") != F.col("corpus_id"))
            .select("query_id", "corpus_id"))
    scored = (cand.join(c, "corpus_id")
              .join(F.broadcast(q), "query_id")
              .select("query_id", "corpus_id",
                      cosine(F.col("qv"), F.col("cv")).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc())
    topk = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
    if return_report:
        from .dedup import bucket_report
        return topk, bucket_report(uncapped, ["ivf_cid"], max_cell)
    return topk


def ivf_write_index(corpus: DataFrame, path: str, centroids,
                    corpus_id: str = "vec_id", vec_col: str = "embedding",
                    assign_mode: str = "blas",
                    mode: str = "overwrite") -> None:
    """Persist the corpus as an on-disk IVF index: rows carry their
    assigned cell and the layout is partitionBy(ivf_cid), so a probed
    search becomes a partition-pruned scan (ivf_search_index). At
    100 TB this is the difference between scanning the corpus and
    scanning nprobe/nlist of it — file skipping at the source, before
    any compute."""
    c = corpus.select(F.col(corpus_id).alias("corpus_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    assigned = c.join(
        _ivf_cells(c, centroids, "corpus_id", "cv", 1, assign_mode),
        "corpus_id")
    assigned.write.partitionBy("ivf_cid").mode(mode).parquet(path)


def ivf_search_index(spark, path: str, queries: DataFrame, centroids,
                     k: int = 10, nprobe: int = 2,
                     query_id: str = "vec_id", vec_col: str = "embedding",
                     assign_mode: str = "blas"):
    """Search an ivf_write_index layout. The probed cell ids (at most
    |Q| x nprobe distinct values — bounded by the small-query contract,
    like the query broadcast) become a literal IN filter on the
    partition column, so the parquet scan statically prunes every
    unprobed cell's files; candidates then follow the exact-scoring
    tail of ivf_cosine_topk."""
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    # One query-assignment job: the collected (query_id, ivf_cid) rows
    # drive BOTH the partition-prune filter and the probe join (as a
    # driver-local DataFrame) — the earlier form recomputed the
    # un-cached q_cells lineage a second time as the join side. The
    # query-id type is carried over from the input (the expr assign
    # path supports non-integer ids; coercing to long would crash it).
    from pyspark.sql.types import IntegerType, StructField, StructType
    qc_rows = [(r["query_id"], int(r["ivf_cid"]))
               for r in _ivf_cells(q, centroids, "query_id", "qv",
                                   nprobe=nprobe, mode=assign_mode).collect()]
    q_cells = spark.createDataFrame(
        qc_rows, StructType([
            StructField("query_id", q.schema["query_id"].dataType),
            StructField("ivf_cid", IntegerType())]))
    cids = sorted({c for _, c in qc_rows})
    idx = (spark.read.parquet(path)
           .filter(F.col("ivf_cid").isin(cids)))
    scored = (idx.join(F.broadcast(q_cells), "ivf_cid")
              .filter(F.col("query_id") != F.col("corpus_id"))
              .join(F.broadcast(q), "query_id")
              .select("query_id", "corpus_id",
                      cosine(F.col("qv"), F.col("cv")).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def semantic_dedup_pairs(df: DataFrame, threshold: float = 0.95,
                         nlist: int = 16, train_iters: int = 2,
                         centroids=None, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         max_cell: int = 100_000,
                         assign_mode: str = "blas",
                         return_report: bool = False):
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with spherical k-means
    (ivf_train), then emit exact-cosine pairs >= threshold WITHIN each
    cluster. Feed the pairs to dedup.dedup_resolve / dedup_apply for
    the keep-one-per-group corpus shrink.

    vs embedding_near_dup_pairs (sign-LSH buckets): the quantizer here
    is DATA-DEPENDENT — cells follow the corpus's own density, so
    recall concentrates where the corpus actually clusters and the
    candidate count per doc is bounded by its cell occupancy, not by
    hyperplane luck. The method's documented blind spot is inherited
    from the paper: a pair straddling two cells is never compared
    (SemDeDup dedups within clusters only — raise nlist's inverse or
    pre-merge with an LSH pass if cross-cluster recall matters).

    Scale shape: one ids-only (id, ivf_cid) relation (assignment is a
    BLAS matmul per Arrow batch; centroids are kilobytes of broadcast
    model state), a self-join keyed on the cell id with max_cell
    capping degenerate cells, and ONE vector re-join for exact
    scoring — the same candidates-then-exact-score contract as the
    rest of the ANN family, so emitted cosines are always true.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"))
    if centroids is None:
        centroids = ivf_train(base, nlist=nlist, train_iters=train_iters,
                              corpus_id="id", vec_col="v")
    cells = _ivf_cells(base, centroids, "id", "v", nprobe=1,
                       mode=assign_mode)
    uncapped = cells
    cells = _cap_buckets(cells, ["ivf_cid"], max_cell)
    l, r = cells.alias("l"), cells.alias("r")
    cand = (l.join(r, "ivf_cid")
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("id_a"),
                    F.col("r.id").alias("id_b")))
    pairs = (
        cand.join(base.select(F.col("id").alias("id_a"),
                              F.col("v").alias("va")), "id_a")
        .join(base.select(F.col("id").alias("id_b"),
                          F.col("v").alias("vb")), "id_b")
        .select("id_a", "id_b",
                cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold))
    if return_report:
        from .dedup import bucket_report
        return pairs, bucket_report(uncapped, ["ivf_cid"], max_cell)
    return pairs

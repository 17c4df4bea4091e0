"""Product quantization for ANN search (Jégou, Douze & Schmid 2011,
"Product Quantization for Nearest Neighbor Search", TPAMI).

Completes the repo's ANN family: brute force (exact baseline), IVF
(bucket pruning), int8-SQ (bandwidth), and now PQ — the memory-side
scale path: a D-dim vector compresses to ``m`` sub-codes (one byte
each at k<=256), and query-time distances come from an ``m*k`` lookup
table instead of touching raw vectors (asymmetric distance
computation, ADC). At 100 TB of embeddings the corpus-side state is
|corpus|*m bytes plus an m*k codebook — the raw vectors are only
needed for an optional exact rescore of the shortlist.

Engine-exactness: reuses operators/kmeans.py's integer-milli
discipline. Subvector codebooks are trained by the same quantized
Lloyd loop — squared-L2, argmin with (dist, code) tie-break,
floor-division means — but over ALL ``m`` subspaces in ONE plan: the
point key is (vec_id, sub), the cluster key is (sub, code), and the
codebook join is on ``sub``. Every intermediate is exact int64, so
the DuckDB oracle replays training, encoding, and ADC bit-for-bit.

Scale shape: training = broadcast m*k-row codebook join + two
map-side-combinable groupBys per round (same as kmeans; only the
codebook is collected per round). Encoding = one broadcast join +
packed-long argmin. ADC = codes equi-join the query distance table on
(sub, code) then one combinable groupBy — |Q|*|corpus|*m intermediate
rows, aggregated straight back down; for a large query set compose
with IVF bucket routing first (the standard IVF-PQ stack) so the
corpus side prunes before ADC.
"""

from __future__ import annotations

from sutro_spark.session import cache_barrier
from sutro_spark.sources.ingest import local_frame
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sutro_spark.operators.kmeans import (
    QVEC,
    _dist2_unrolled,
    quantize_embeddings,
)


def _subvectors(
    q: DataFrame, m: int, sub_dim: int, id_column: str
) -> DataFrame:
    """(id, sub, sqv) — the m per-subspace slices of each quantized
    vector, exploded in-scan. The slice list is a literal ``array()``
    of m ``slice`` calls, not a ``transform`` lambda — whole-stage
    codegen instead of an interpreted HOF (r16 optimization round)."""
    slices = F.array(
        *[F.slice(F.col(QVEC), s * sub_dim + 1, sub_dim) for s in range(m)]
    )
    return q.select(
        F.col(id_column).alias("id"), F.posexplode(slices).alias("sub", "sqv")
    )


def _sub_dist2(sub_dim: int | None = None) -> F.Column:
    """Exact int64 squared-L2 between sqv and cv; unrolled to a flat
    codegen expression when ``sub_dim`` is known (every caller knows
    it — the HOF fallback remains for None)."""
    if sub_dim is not None:
        return _dist2_unrolled("sqv", "cv", sub_dim)
    return F.aggregate(
        F.zip_with("sqv", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign_codes(
    sv: DataFrame, cb: DataFrame, k: int, sub_dim: int | None = None
) -> DataFrame:
    """(id, sub, code) nearest-codeword assignment — broadcast codebook
    join + packed-long argmin (dist2*k + code; ties break to the
    smaller code, matching the (dist2, code) ordering)."""
    packed = (
        sv.join(F.broadcast(cb), "sub")
        .select(
            "id", "sub", (_sub_dist2(sub_dim) * k + F.col("code")).alias("key")
        )
        .groupBy("id", "sub")
        .agg(F.min("key").alias("key"))
    )
    return packed.select(
        "id", "sub", (F.col("key") % k).alias("code")
    )


#: Shift added to (vector − centroid) residual components so they stay
#: non-negative: qvec components live in [0, 2·offset] and so do the
#: floor-division centroid means, hence residuals in [−2·offset, 2·offset].
#: Keeping the Lloyd state non-negative is what lets Spark's truncating
#: ``div`` and DuckDB's flooring ``//`` agree; the shift cancels in every
#: distance (both sides of an ADC lookup carry it).
RESID_OFFSET = 2000


def _pq_train_q(
    q: DataFrame, *, m: int, k: int, iters: int, id_column: str, sub_dim: int
) -> DataFrame:
    """Train per-subspace codebooks over a pre-quantized (id, qvec)
    relation — the shared core of :func:`pq_train` (raw vectors) and
    :func:`ivfpq_residual_topk` (bucket residuals)."""
    spark = q.sparkSession
    sv = _subvectors(q, m, sub_dim, id_column)
    # r17 (guide §5 driver discipline): the deterministic init codebook
    # — the k lowest-id vectors' m subvector slices, code = ascending-id
    # rank — is a broadcast subplan of the first Lloyd round instead of
    # a separate collect() job: one fewer driver-synchronized job per
    # training call. Same relation content as the old driver-assembled
    # createDataFrame (sub int, code bigint, cv array<bigint>); when
    # iters == 1 it is returned directly (the init IS the codebook).
    slices = F.array(
        *[F.slice(F.col(QVEC), s * sub_dim + 1, sub_dim) for s in range(m)]
    )
    cb = (
        q.orderBy(id_column)
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy(id_column)) - 1)
            .cast("bigint")
            .alias("code"),
            slices.alias("__sl"),
        )
        .select(F.posexplode("__sl").alias("sub", "cv"), "code")
        .select("sub", "code", "cv")
    )
    for _ in range(iters - 1):
        # fused assignment+mean round (r16 optimization round): carry
        # sqv through the argmin aggregation (first() reads a value
        # constant per (id, sub) group) instead of joining the codes
        # back against sv — one pass over the subvectors per round
        fused = (
            sv.join(F.broadcast(cb), "sub")
            .select(
                "id",
                "sub",
                "sqv",
                (_sub_dist2(sub_dim) * k + F.col("code")).alias("key"),
            )
            .groupBy("id", "sub")
            .agg(F.min("key").alias("key"), F.first("sqv").alias("sqv"))
            .select("sub", (F.col("key") % k).alias("code"), "sqv")
        )
        ex = (
            fused.select("sub", "code", F.posexplode("sqv").alias("pos", "v"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("comp", F.expr("s div n"))  # all values >= 0
            .select("sub", "code", "pos", "comp")
            .collect()
        )
        # r16: assemble the m·k·sub_dim component rows into codeword
        # arrays on the driver instead of a second groupBy(sub, code)
        # + sort_array(collect_list) exchange — one less shuffle per
        # Lloyd round; same bounded collect, identical values/order
        by_sc: dict = {}
        for r in ex:
            by_sc.setdefault((r["sub"], r["code"]), {})[r["pos"]] = r["comp"]
        cb = spark.createDataFrame(
            [
                (s, c, [comps[p] for p in sorted(comps)])
                for (s, c), comps in sorted(by_sc.items())
            ],
            "sub int, code bigint, cv array<bigint>",
        )
    return cb


def pq_train(
    df: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """Train per-subspace codebooks: (sub, code, cv array<bigint>).

    Deterministic init: the k lowest-id vectors' subvectors (same
    convention as kmeans). ``iters`` Lloyd rounds over all m subspaces
    in one plan per round; only the m*k codebook is collected."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    q = quantize_embeddings(df, vector_column, scale=scale, offset=offset).select(
        id_column, QVEC
    )
    return _pq_train_q(
        q, m=m, k=k, iters=iters, id_column=id_column, sub_dim=dim // m
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    *,
    m: int = 8,
    k: int = 16,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """(vec_id, sub, code) — the compressed corpus representation."""
    q = quantize_embeddings(df, vector_column, scale=scale, offset=offset).select(
        id_column, QVEC
    )
    sv = _subvectors(q, m, dim // m, id_column)
    return _assign_codes(sv, codebook, k, dim // m).select(
        F.col("id").alias(id_column), "sub", "code"
    )


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    *,
    k: int = 3,
    m: int = 8,
    n_codes: int = 16,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, neighbor_id, adist2, rank).

    The query side builds its m*n_codes distance table EXACTLY (raw
    quantized query subvectors vs codewords); the corpus side
    contributes only codes — the PQ promise that raw corpus vectors
    are never touched at query time. Ties break (adist2, neighbor_id);
    self-matches are excluded.
    """
    codes = pq_encode(
        df, codebook, m=m, k=n_codes, id_column=id_column,
        vector_column=vector_column, dim=dim, scale=scale, offset=offset,
    )
    qq = quantize_embeddings(
        queries, vector_column, scale=scale, offset=offset
    ).select(id_column, QVEC)
    qsv = _subvectors(qq, m, dim // m, id_column).withColumnRenamed("id", "query_id")
    qdt = qsv.join(F.broadcast(codebook), "sub").select(
        "query_id", "sub", "code", _sub_dist2(dim // m).alias("d2")
    )
    agg = (
        codes.withColumnRenamed(id_column, "neighbor_id")
        .join(qdt, ["sub", "code"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adist2"))
    )
    w = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def exact_l2_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """Exact integer squared-L2 top-k over the SAME milli quantization:
    (query_id, neighbor_id, dist2, rank). The ground truth the PQ
    recall metric compares against — metric and quantization held
    constant, so the recall number isolates the PQ approximation
    itself."""
    q = quantize_embeddings(df, vector_column, scale=scale, offset=offset).select(
        F.col(id_column).alias("neighbor_id"), F.col(QVEC).alias("nv")
    )
    qq = quantize_embeddings(
        queries, vector_column, scale=scale, offset=offset
    ).select(F.col(id_column).alias("query_id"), F.col(QVEC).alias("qv"))
    d2 = F.aggregate(
        F.zip_with("qv", "nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        q.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("dist2"))
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _exact_rescore(
    shortlist: DataFrame,
    df: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    id_column: str,
    vector_column: str,
    scale: int,
    offset: int,
) -> DataFrame:
    """Re-rank an ADC shortlist by EXACT integer squared-L2 over the
    raw vectors of JUST the shortlisted ids — the refinement step that
    buys back PQ quantization loss (Jégou 2011 §V.A calls it the
    re-ranking stage; the repo's int8 path does the same in sq_topk).

    Scale shape: the shortlist (|queries| * rescore_k rows, corpus-size
    INDEPENDENT) broadcasts into one corpus scan — a BroadcastHashJoin
    that prunes the raw-vector read to the candidate ids; the corpus
    never shuffles and is never crossed with the query set. The
    candidate pairs (again |queries| * rescore_k) then equi-join the
    query vectors. Total exact-distance work is O(|queries| *
    rescore_k * dim), so recall improves at a cost that does not grow
    with the corpus.

    Output: (query_id, neighbor_id, dist2, rank) — dist2 is the exact
    integer squared L2 at the shared milli quantization, directly
    comparable to :func:`exact_l2_topk`.
    """
    q = quantize_embeddings(df, vector_column, scale=scale, offset=offset).select(
        F.col(id_column).alias("neighbor_id"), F.col(QVEC).alias("nv")
    )
    qq = quantize_embeddings(
        queries, vector_column, scale=scale, offset=offset
    ).select(F.col(id_column).alias("query_id"), F.col(QVEC).alias("qv"))
    cand = q.join(
        F.broadcast(shortlist.select("query_id", "neighbor_id")), "neighbor_id"
    )
    d2 = F.aggregate(
        F.zip_with("qv", "nv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = cand.join(qq, "query_id").select(
        "query_id", "neighbor_id", d2.alias("dist2")
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    rescore_k: int | None = None,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """IVF-PQ: coarse integer-k-means bucket routing, then ADC only
    within the ``nprobe`` probed buckets — the standard billion-scale
    ANN stack (Jégou 2011 §IV). Non-residual variant (PQ codes the raw
    vectors, not bucket residuals — Faiss ``by_residual=False``): the
    codes are bucket-independent, so ONE codebook serves every bucket
    and re-bucketing never re-encodes.

    Scale shape: the corpus-side state is (vec_id, bucket) + m codes
    per vector; a query touches |probed buckets| of the corpus instead
    of all of it, and each touched vector costs an m-row distance-table
    lookup instead of a D-dim dot product. Partition the codes table by
    bucket on disk and the probe prunes at the scan.

    ``rescore_k``: when set (>= k), the ADC pass keeps a top-
    ``rescore_k`` shortlist per query and :func:`_exact_rescore`
    re-ranks it by exact integer L2 on the raw vectors of just those
    ids — the knob past the PQ-quantization recall ceiling (the r11
    saturation probe measured ~0.42 recall@10 at full probe breadth;
    rescoring is the only lever beyond it short of a bigger codebook).
    Output columns become (query_id, neighbor_id, dist2, rank).

    Output: (query_id, neighbor_id, adist2, rank) like :func:`pq_topk`.
    """
    if rescore_k is not None and rescore_k < k:
        raise ValueError(f"rescore_k {rescore_k} must be >= k {k}")
    from sutro_spark.operators.kmeans import kmeans

    spark = df.sparkSession
    assigned, cents = kmeans(
        df, k=coarse_k, iters=coarse_iters,
        id_column=id_column, vector_column=vector_column,
        scale=scale, offset=offset,
    )
    cb = pq_train(
        df, m=m, k=n_codes, iters=2, id_column=id_column,
        vector_column=vector_column, dim=dim, scale=scale, offset=offset,
    )
    codes = pq_encode(
        df, cb, m=m, k=n_codes, id_column=id_column,
        vector_column=vector_column, dim=dim, scale=scale, offset=offset,
    )
    qq = quantize_embeddings(
        queries, vector_column, scale=scale, offset=offset
    ).select(F.col(id_column).alias("query_id"), QVEC)
    cdf = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        "cluster bigint, cvec array<bigint>",
    )
    cd2 = F.aggregate(
        F.zip_with(QVEC, "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cluster")
    probes = (
        qq.crossJoin(F.broadcast(cdf))
        .select("query_id", "cluster", cd2.alias("d2"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= nprobe)
        .select("query_id", "cluster")
    )
    cand = (
        probes.join(assigned.select(id_column, "cluster"), "cluster")
        .where(F.col(id_column) != F.col("query_id"))
        .select("query_id", F.col(id_column).alias("neighbor_id"))
    )
    qsv = _subvectors(
        qq.withColumnRenamed("query_id", "id"), m, dim // m, "id"
    ).withColumnRenamed("id", "query_id")
    qdt = qsv.join(F.broadcast(cb), "sub").select(
        "query_id", "sub", "code", _sub_dist2(dim // m).alias("d2")
    )
    agg = (
        cand.join(
            codes.withColumnRenamed(id_column, "neighbor_id"), "neighbor_id"
        )
        .join(qdt, ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adist2"))
    )
    w2 = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    adc_k = k if rescore_k is None else rescore_k
    ranked = (
        agg.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= adc_k)
    )
    if rescore_k is None:
        return ranked
    return _exact_rescore(
        ranked, df, queries, k=k, id_column=id_column,
        vector_column=vector_column, scale=scale, offset=offset,
    )


def ivfpq_residual_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    rescore_k: int | None = None,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """True IVFADC (Jégou 2011 §III, Faiss ``by_residual=True``): PQ
    trains on and encodes the RESIDUAL v − centroid(bucket(v)) rather
    than the raw vector. Residual magnitudes shrink as nlist grows, so
    a fixed codebook budget quantizes finer — this is what holds
    recall up at scale where the non-residual :func:`ivfpq_topk`
    plateaus (its codebook must span the whole space regardless of how
    finely the coarse quantizer partitions it).

    Engine-exactness: residuals are shifted by :data:`RESID_OFFSET`
    into [0, 2·RESID_OFFSET] so every Lloyd mean stays a non-negative
    floor division (Spark ``div`` == DuckDB ``//``); the shift cancels
    in every ADC distance because the query-side residual carries it
    too. One codebook is trained over all residuals (the standard
    IVFADC layout — per-bucket codebooks would be nlist·m·k state).

    Query side: each query builds ONE distance table PER PROBED BUCKET
    (its residual differs per centroid) — nprobe·m·n_codes rows per
    query, still broadcast-joinable; candidates within a probed bucket
    ADC against that bucket's table via an equi-join keyed
    (query_id, cluster, sub, code). Corpus raw vectors are never
    touched at query time, exactly as in :func:`pq_topk`.

    Output: (query_id, neighbor_id, adist2, rank) like
    :func:`ivfpq_topk`; measure against :func:`exact_l2_topk` at the
    same quantization to see the residual-vs-raw recall gap. Measured
    (sf0.01, 100 queries, defaults): residual 0.160 vs non-residual
    0.147 recall@3 — the expected direction; both are low in absolute
    terms because n_codes=16 with two Lloyd rounds is sized for exact
    oracle replay, not production recall (production: n_codes=256,
    more rounds, and an exact rescore of the shortlist —
    ``rescore_k`` IS that rescore, see :func:`_exact_rescore`; it
    changes the output columns to (query_id, neighbor_id, dist2,
    rank)).
    """
    if rescore_k is not None and rescore_k < k:
        raise ValueError(f"rescore_k {rescore_k} must be >= k {k}")
    qdt, cand, codes, _ = _ivfpq_residual_parts(
        df, queries, coarse_k=coarse_k, coarse_iters=coarse_iters,
        nprobe=nprobe, m=m, n_codes=n_codes, id_column=id_column,
        vector_column=vector_column, dim=dim, scale=scale, offset=offset,
    )
    w2 = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    adc_k = k if rescore_k is None else rescore_k
    ranked = (
        _adc(cand, codes, qdt)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= adc_k)
    )
    if rescore_k is None:
        return ranked
    return _exact_rescore(
        ranked, df, queries, k=k, id_column=id_column,
        vector_column=vector_column, scale=scale, offset=offset,
    )


def _ivfpq_residual_parts(
    df: DataFrame,
    queries: DataFrame,
    *,
    coarse_k: int,
    coarse_iters: int,
    nprobe: int,
    m: int,
    n_codes: int,
    id_column: str,
    vector_column: str,
    dim: int,
    scale: int,
    offset: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The residual-IVFADC plan up to (qdt, cand, codes):
    qdt = (query_id, cluster, sub, code, d2) per-probed-bucket distance
    tables, cand = (query_id, cluster, neighbor_id) routed candidates,
    codes = (neighbor_id, sub, code) PQ codes. Shared by the plain
    top-k and the bound-pruned variant; ADC itself is :func:`_adc` so
    the pruned variant can run it over a candidate SUBSET — keeping
    the saved work out of the executed plan, not just the output.
    The fourth element is the cached residual corpus ``cand`` reads,
    for a caller that runs its final action itself to release."""
    from sutro_spark.operators.kmeans import kmeans

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    spark = df.sparkSession
    assigned, cents = kmeans(
        df, k=coarse_k, iters=coarse_iters,
        id_column=id_column, vector_column=vector_column,
        scale=scale, offset=offset,
    )
    cdf = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        "cluster bigint, cvec array<bigint>",
    )
    q = quantize_embeddings(df, vector_column, scale=scale, offset=offset).select(
        id_column, QVEC
    )
    shift = lambda a, b: a - b + RESID_OFFSET  # noqa: E731
    rq = (
        q.join(assigned.select(id_column, "cluster"), id_column)
        .join(F.broadcast(cdf), "cluster")
        .select(
            id_column, "cluster", F.zip_with(QVEC, "cvec", shift).alias(QVEC)
        )
    )
    # The residual corpus is read by every train round, the encode pass
    # and the candidate routing — each replay re-runs the full
    # coarse-assignment crossJoin+argmin. Materialize it ONCE
    # (standard iterative-training discipline). Per-QUERY-RUN state,
    # never reused across runs. Measured 6.11 s -> 4.86 s for
    # ivfpq_residual at sf0.1 (r16). It carries ``cluster`` (8
    # bytes/row) so candidate routing below reads the materialized
    # table instead of re-running the kmeans assignment subtree inside
    # the final action. The returned plans read it lazily, so it is
    # cached, not checkpointed: clearCache reaches the blocks.
    rq = rq.transform(cache_barrier)
    cb = _pq_train_q(
        rq, m=m, k=n_codes, iters=2, id_column=id_column, sub_dim=sub_dim
    )
    codes = _assign_codes(
        _subvectors(rq, m, sub_dim, id_column), cb, n_codes, sub_dim
    ).select(
        F.col("id").alias("neighbor_id"), "sub", "code"
    )
    qq = quantize_embeddings(
        queries, vector_column, scale=scale, offset=offset
    ).select(F.col(id_column).alias("query_id"), QVEC)
    cd2 = F.aggregate(
        F.zip_with(QVEC, "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "cluster")
    probes = (
        qq.crossJoin(F.broadcast(cdf))
        .select("query_id", "cluster", "cvec", QVEC, cd2.alias("d2"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= nprobe)
    )
    qresid = probes.select(
        "query_id", "cluster", F.zip_with(QVEC, "cvec", shift).alias(QVEC)
    )
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(F.col(QVEC), s * sub_dim + 1, sub_dim),
    )
    qsv = qresid.select(
        "query_id", "cluster", F.posexplode(slices).alias("sub", "sqv")
    )
    qdt = qsv.join(F.broadcast(cb), "sub").select(
        "query_id", "cluster", "sub", "code", _sub_dist2(sub_dim).alias("d2")
    )
    cand = (
        probes.select("query_id", "cluster")
        .join(
            rq.select(F.col(id_column).alias("neighbor_id"), "cluster"),
            "cluster",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    return qdt, cand, codes, rq


def _adc(cand: DataFrame, codes: DataFrame, qdt: DataFrame) -> DataFrame:
    """ADC over a routed candidate set: (query_id, neighbor_id,
    adist2). ``cand`` may be any subset of the routed candidates —
    the pruned variant passes only survivors, so pruned buckets never
    enter the codes join at all."""
    return (
        cand.join(codes, "neighbor_id")
        .join(qdt, ["query_id", "cluster", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2").alias("adist2"))
    )


def _prune_surviving_buckets(
    qdt: DataFrame, cand: DataFrame, codes: DataFrame, k: int
) -> DataFrame:
    """(query_id, cluster) buckets that survive the classic IVF
    early-abandon (Jégou 2011 §V): per-bucket LOWER bound =
    Σ_sub min_code d2 (no candidate in the bucket can beat the sum of
    its per-subspace minima); τ = the k-th ADC distance within the
    best-bound (primary) bucket; any other bucket with bound > τ
    cannot contribute to the final top-k — every candidate there has
    adist2 >= bound > τ >= final k-th distance, STRICTLY above it, so
    even the (adist2, neighbor_id) tie-break cannot admit one. Queries
    whose primary bucket yields fewer than k candidates keep all
    probed buckets (no valid τ). Output therefore preserves the exact
    unpruned top-k (pytest-asserted), it only shrinks the ADC input.

    The τ probe ADCs ONLY the primary bucket's candidates (``cand``
    pre-joined to the bound winner) — the full candidate set never
    reaches a codes join here, so the executed plan, not just the
    output, skips the pruned buckets' ADC work.
    """
    bound = (
        qdt.groupBy("query_id", "cluster", "sub")
        .agg(F.min("d2").alias("md"))
        .groupBy("query_id", "cluster")
        .agg(F.sum("md").alias("bound"))
    )
    wb = Window.partitionBy("query_id").orderBy("bound", "cluster")
    prim = (
        bound.withColumn("__rn", F.row_number().over(wb))
        .where(F.col("__rn") == 1)
        .select("query_id", F.col("cluster").alias("prim_cluster"))
    )
    prim_cand = (
        cand.join(prim, "query_id")
        .where(F.col("cluster") == F.col("prim_cluster"))
        .select("query_id", "cluster", "neighbor_id")
    )
    wp = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    ptk = (
        _adc(prim_cand, codes, qdt)
        .withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= k)
        .groupBy("query_id")
        .agg(F.max("adist2").alias("tau"), F.count(F.lit(1)).alias("nk"))
    )
    return (
        bound.join(prim, "query_id")
        .join(ptk, "query_id", "left")
        .where(
            (F.col("cluster") == F.col("prim_cluster"))
            | F.col("tau").isNull()
            | (F.col("nk") < k)
            | (F.col("bound") <= F.col("tau"))
        )
        .select("query_id", "cluster")
    )


def ivfpq_pruned_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """Residual IVFADC with per-bucket lower-bound pruning: identical
    output to :func:`ivfpq_residual_topk` (the bound argument is in
    :func:`_prune_surviving_buckets`'s docstring), smaller ADC input —
    at scale the saved work is (pruned candidates)·m join rows per
    query. The EXECUTED plan reflects the saving: the only ADC joins
    are the τ probe over primary-bucket candidates and the final pass
    over survivors — pruned buckets' candidates never reach a codes
    join (plan-shape pytest asserts the kept-side join feeds the ADC).
    Use :func:`ivfpq_prune_stats` to measure the reduction."""
    qdt, cand, codes, _ = _ivfpq_residual_parts(
        df, queries, coarse_k=coarse_k, coarse_iters=coarse_iters,
        nprobe=nprobe, m=m, n_codes=n_codes, id_column=id_column,
        vector_column=vector_column, dim=dim, scale=scale, offset=offset,
    )
    # The pruning plan reads qdt and codes from FOUR subtrees
    # (per-bucket bound, tau probe, survivor filter, final ADC) —
    # without a barrier the executed plan re-derived the residual-encode
    # aggregation per reference (32 scans of the residual corpus, 80
    # Exchanges, 0 ReusedExchange). Both are bounded state (codes: m
    # rows/vector of 3 ints — the compressed corpus representation
    # itself; qdt: |queries|*nprobe*m*n_codes rows). Interleaved A/B at
    # sf0.1 with localCheckpoint barriers: 4.2-4.7 s vs 5.2-5.4 s
    # without. The returned plan reads them lazily, so they are cached,
    # not checkpointed: clearCache reaches the blocks, which a
    # checkpoint pinned until the JVM collected the dropped frame.
    # Cached in place of checkpointed (sf0.1, 5 queries, local[4], five
    # interleaved processes of 5-6 timed calls): median of process
    # medians 7.37 s vs 7.08 s, about 4% slower, within either side's
    # spread (6.4-8.9 s vs 6.4-7.7 s).
    qdt = qdt.transform(cache_barrier)
    codes = codes.transform(cache_barrier)
    surv = _prune_surviving_buckets(qdt, cand, codes, k)
    kept = cand.join(surv, ["query_id", "cluster"])
    w2 = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    return (
        _adc(kept, codes, qdt)
        .withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
    )


def ivfpq_prune_stats(
    df: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    coarse_k: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """One row: (n_queries, cand_full, cand_pruned) — how many routed
    candidates the ADC stage would process without vs with the bucket
    bound, over the same routing. cand_pruned <= cand_full always;
    equality of the RESULTS at the reduced cost is the pruning theorem
    (pytest + the pruned/unpruned [Q] pair share one oracle chain).

    Eager: the row is computed here and returned as a local relation,
    so the call leaves nothing cached."""
    qdt, cand, codes, resid = _ivfpq_residual_parts(
        df, queries, coarse_k=coarse_k, coarse_iters=coarse_iters,
        nprobe=nprobe, m=m, n_codes=n_codes, id_column=id_column,
        vector_column=vector_column, dim=dim, scale=scale, offset=offset,
    )
    # the same barriers as ivfpq_pruned_topk
    qdt = qdt.transform(cache_barrier)
    codes = codes.transform(cache_barrier)
    surv = _prune_surviving_buckets(qdt, cand, codes, k)
    kept = cand.join(surv, ["query_id", "cluster"])
    full = cand.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("cand_full"),
    )
    pruned = kept.agg(F.count(F.lit(1)).cast("long").alias("cand_pruned"))
    stats = full.crossJoin(F.broadcast(pruned))
    # the final action: nothing reads the residual, qdt or codes
    # caches after it, so their blocks go now
    row = stats.collect()[0]
    for cached in (resid, qdt, codes):
        cached.unpersist()
    return local_frame(df.sparkSession, [tuple(row)], stats.schema)


# --- OPQ-lite: structured (Walsh–Hadamard) rotation before PQ -------------
# PQ's loss concentrates when energy is unevenly split across the m
# subspaces (Ge et al. 2013 — OPQ learns a rotation to balance them;
# the learned form needs eigendecompositions no engine replays
# bit-for-bit). The structured alternative — rotate by a Hadamard
# matrix, the Fast-JL / QuickADC trick — spreads energy across ALL
# dimensions with a ±1 INTEGER matrix: h(i,j) = (-1)^popcount(i & j),
# H·Hᵀ = d·I, so ||Hx||² = d·||x||² and exact-L2 top-k is PRESERVED
# while every PQ subspace sees a balanced share of the variance.
# Every rotated component is an exact integer both engines compute
# identically (bit_count + sum), followed by ONE exact IEEE division
# back to [-1, 1] floats for the unchanged PQ pipeline.


def hadamard_rotate_q(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    *,
    dim: int,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """Exact integer WHT of the quantized, centered embedding:
    r_i = sum_j (-1)^popcount(i & j) * (q_j - offset), components in
    [-dim*offset, dim*offset]. ``dim`` must be a power of two and
    every row's array length (enforced per row via raise_error — a
    silent mismatch would rotate garbage). O(dim^2) integer ops per
    row, JVM-side, zero shuffles.

    Output: (id, rvec array<bigint>).
    """
    if dim < 2 or dim & (dim - 1):
        raise ValueError(f"dim must be a power of two >= 2, got {dim}")
    guard = (
        f"CASE WHEN size({vector_column}) = {dim} THEN {vector_column}"
        f" ELSE raise_error(concat('hadamard_rotate: vector length ',"
        f" CAST(size({vector_column}) AS STRING),"
        f" ' != dim {dim}')) END"
    )
    rot = (
        f"transform(sequence(0, {dim - 1}), i -> aggregate("
        f" zip_with(transform({guard},"
        f" x -> CAST(x * {scale} AS BIGINT) + {offset}),"
        f" sequence(0, {dim - 1}),"
        f" (v, j) -> CASE WHEN bit_count(i & j) % 2 = 0"
        f" THEN v - {offset} ELSE {offset} - v END),"
        f" CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )
    return df.select(
        F.col(id_column).alias("id"), F.expr(rot).alias("rvec")
    )


def hadamard_rotated(
    df: DataFrame,
    vector_column: str = "embedding",
    id_column: str = "vec_id",
    *,
    dim: int,
    scale: int = 1000,
    offset: int = 1000,
) -> DataFrame:
    """The float face of :func:`hadamard_rotate_q` for composing with
    the unchanged PQ stack: each exact integer component divides ONCE
    by sqrt(dim)*scale — H/sqrt(d) is ORTHONORMAL, so norms (hence
    magnitudes, hence the milli-quantization resolution the PQ stack
    re-applies) are preserved, not shrunk by the extra sqrt(d) a
    divide-by-d would cost. Range contract (ENFORCED per row via
    raise_error): each rotated component is bounded by the vector's
    L2 norm, so inputs must satisfy ||x||_2 <= 1 — the unit-normalized
    embedding convention; larger vectors would leave quantize's
    [-1, 1] domain and silently saturate downstream.

    Feed the result anywhere `embedding` goes (exact_l2_topk,
    ivfpq_residual_topk, ...); exact top-k is preserved, and the PQ
    codebooks now quantize balanced subspaces.
    """
    import math

    q = hadamard_rotate_q(
        df,
        vector_column,
        id_column,
        dim=dim,
        scale=scale,
        offset=offset,
    )
    den = math.sqrt(dim) * scale
    bound = int(den)  # |r_int| > sqrt(d)*scale would leave [-1, 1]
    return q.select(
        F.col("id").alias(id_column),
        F.expr(
            f"transform(rvec, x -> CASE WHEN abs(x) <= {bound}"
            f" THEN CAST(x AS DOUBLE) / {den!r}"
            f" ELSE CAST(raise_error(concat('hadamard_rotated: component ',"
            f" CAST(x AS STRING), ' exceeds the unit-norm envelope"
            f" (input vectors must have L2 norm <= 1)')) AS DOUBLE)"
            f" END)"
        ).alias(vector_column),
    )

"""Deterministic cardinality sketches: KMV (k-minimum-values) distinct
estimation.

Sketch-based distinct counting is the 100 TB answer to COUNT(DISTINCT)
— exact distinct needs a full shuffle of every key; a KMV sketch needs
only the k smallest hash values per group (constant state), merged
associatively. Spark's built-in `approx_count_distinct` (HLL++) does
this too but its binary sketch is engine-specific; this KMV uses the
repo's portable sha-based 32-bit hash so the ESTIMATE ITSELF is
reproducible bit-for-bit on any engine — which is what makes it
oracle-checkable (and auditable in production).

Estimator (Bar-Yossef et al. 2002, Beyer et al. SIGMOD 2007): with
h(x) uniform on [0, 2^32) and h_k the k-th smallest distinct hash,
    est = (k-1) * 2^32 / h_k
one double division of exact integers → identical across engines.
"""

from __future__ import annotations

from sutro_spark.session import barrier as _barrier
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sutro_spark.functions.sampling import hash_bucket

__all__ = [
    "kmv_distinct", "kmv_join_estimate", "hll_distinct", "hll_registers",
    "hll_from_registers", "hll_corrected", "cms_cells", "cms_counts",
    "cms_estimate", "kmv_set_estimates", "hll_set_estimates",
    "mg_bucket_summaries", "mg_merge", "mg_heavy_hitters",
    "qdigest_build", "qdigest_merge", "qdigest_quantiles",
    "qdigest_build_grouped", "qdigest_quantiles_grouped",
]


def kmv_distinct(
    df: DataFrame,
    group_column: str,
    key_column: str,
    *,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Plan: dedupe (group, hash) — ONE shuffle with map-side combine —
    then a bounded rank window keeps the k smallest hashes per group
    (WindowGroupLimit pushes the rank filter into the sort, so only k
    rows per group survive the exchange). Groups with fewer than k
    distinct keys report their exact count.

    Output: (group, n_le_k bigint — min(k, distinct), est_distinct
    double — the KMV estimate, exact when the group has < k keys).
    """
    h = hash_bucket(F.col(key_column), salt=salt, buckets=1 << 32)
    hashes = (
        # NULL keys → NULL hash, which ascends FIRST in the rank window
        # and would poison h_k; COUNT DISTINCT ignores NULLs — so do we
        df.where(F.col(key_column).isNotNull())
        .select(F.col(group_column).alias("grp"), h.alias("h"))
        .groupBy("grp", "h")
        .agg(F.lit(1))
        .select("grp", "h")
    )
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    topk = hashes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    return (
        topk.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_le_k"), F.max("h").alias("hk"))
        .select(
            "grp",
            "n_le_k",
            F.when(F.col("n_le_k") < k, F.col("n_le_k").cast("double"))
            .otherwise(
                (F.lit(float(k - 1)) * F.lit(float(1 << 32))) / F.col("hk")
            )
            .alias("est_distinct"),
        )
    )


def hll_distinct(
    df: DataFrame,
    group_column: str,
    key_column: str,
    *,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate with
    engine-reproducible registers (Flajolet et al. 2007).

    Unlike Spark's ``approx_count_distinct`` (HLL++, engine-private
    sketch bytes), every intermediate here is portable integer math on
    the repo's sha-derived 32-bit hash: register index = low ``p`` bits,
    rho = leading-zero rank of the remaining ``32-p`` bits computed via
    ``length(bin(rem))`` (identical string semantics in Spark and
    DuckDB — both render 0 as '0' and no leading zeros).

    The harmonic sum is kept as an exact integer ``s_scaled =
    sum_j 2^(F+1-M_j)`` (F = 32-p; empty registers contribute 2^(F+1)),
    so the final estimate is literal-double arithmetic over exact
    integers — bit-identical on any IEEE-754 engine, hence
    oracle-checkable. The ln-based small-range (linear counting)
    correction is deliberately NOT applied — libm ln differs across
    engines; ``n_zero`` (empty-register count) is emitted so callers
    can apply it when they don't need cross-engine determinism.

    Plan: one shuffle to (grp, register) with map-side-combinable max —
    constant state per group (m registers), the 100 TB COUNT(DISTINCT)
    shape. The register grid completes via a broadcast cross join with
    the m-row index range so empty registers count.

    Output: (grp, n_zero bigint, s_scaled bigint, est_hll double).
    """
    regs = hll_registers(df, group_column, key_column, p=p, salt=salt)
    return hll_from_registers(regs, p=p)


def hll_registers(
    df: DataFrame,
    group_column: str,
    key_column: str,
    *,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """The HLL state: (grp, j, M) — register index and max rho rank.
    A max-aggregate, hence associative AND idempotent: batch partitions,
    incremental batches, and streaming triggers all merge to the same
    registers (streaming/sketches.streaming_hll reuses this verbatim).
    Only occupied registers are emitted; :func:`hll_from_registers`
    completes the grid."""
    if not 4 <= p <= 12:
        raise ValueError(f"p must be in [4, 12], got {p}")
    m = 1 << p
    scale = (32 - p) + 1
    h = hash_bucket(F.col(key_column), salt=salt, buckets=1 << 32)
    # NULL keys hash to NULL and would create a phantom (j=NULL, M=NULL)
    # register that corrupts n_zero/s_scaled downstream — ignore them
    # (COUNT DISTINCT semantics ignore NULLs too)
    rows = df.where(F.col(key_column).isNotNull()).select(
        F.col(group_column).alias("grp"), h.alias("h")
    ).select(
        "grp",
        (F.col("h") % m).alias("j"),
        F.shiftright(F.col("h"), p).alias("rem"),
    )
    rho = F.when(F.col("rem") == 0, F.lit(scale)).otherwise(
        F.lit(scale) - F.length(F.bin(F.col("rem")))
    )
    return rows.groupBy("grp", "j").agg(F.max(rho).alias("M"))


def hll_from_registers(regs: DataFrame, *, p: int = 6) -> DataFrame:
    """Finish step: registers → (grp, n_zero, s_scaled, est_hll).
    Deterministic integer/IEEE math as documented on hll_distinct.

    Empty registers are counted ALGEBRAICALLY (n_zero = m - occupied;
    each contributes 2^scale to the harmonic sum) instead of
    materializing a grid and re-joining the register table — one
    aggregate, no self-join (which also matters practically: a
    streaming memory-sink table cannot be self-joined, Spark fails to
    deduplicate MemoryPlan attribute ids)."""
    m = 1 << p
    scale = (32 - p) + 1
    alpha = 0.7213 / (1.0 + 1.079 / m) if m >= 128 else {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.709)
    return regs.groupBy("grp").agg(
        (F.lit(m) - F.count(F.lit(1))).cast("long").alias("n_zero"),
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {scale} - M)"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << scale)
        ).alias("s_scaled"),
    ).select(
        "grp",
        "n_zero",
        "s_scaled",
        (
            F.lit(alpha)
            * F.lit(float(m * m))
            * F.lit(float(1 << scale))
            / F.col("s_scaled")
        ).alias("est_hll"),
    )


def hll_corrected(est: DataFrame, *, p: int = 6) -> DataFrame:
    """Accuracy-first finisher over :func:`hll_distinct` /
    :func:`hll_from_registers` output: apply HLL's small-range LINEAR
    COUNTING correction (Flajolet et al. 2007 §4: when the raw
    estimate is below 2.5*m and empty registers remain, m*ln(m/V)
    with V = n_zero is the better estimator — raw HLL is biased high
    by ~17% at p=6 in that regime).

    Deliberately a SEPARATE helper: ``ln`` is libm, whose last-ulp
    behavior differs across engines, so the corrected estimate is NOT
    oracle-checkable — callers choose determinism (``est_hll``) or
    small-range accuracy (``est_corrected``). Covered by pytest
    against exact distinct counts instead of the DuckDB gate.

    Adds ``est_corrected`` (double) to the input frame; map-only.
    """
    m = 1 << p
    return est.withColumn(
        "est_corrected",
        F.when(
            (F.col("n_zero") > 0) & (F.col("est_hll") <= F.lit(2.5 * m)),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero")),
        ).otherwise(F.col("est_hll")),
    )


def cms_cells(
    key_column: str,
    *,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> Column:
    """The exploded (row, bucket) cell addresses of one key occurrence —
    shared by the batch builder, the point-query probe, and the
    streaming maintainer so all three address identical cells."""
    return F.explode(
        F.array(*[
            F.struct(
                F.lit(r).alias("row"),
                hash_bucket(F.col(key_column), salt=f"{salt}{r}", buckets=width)
                .cast("int")
                .alias("bucket"),
            )
            for r in range(depth)
        ])
    ).alias("cell")


def cms_counts(
    df: DataFrame,
    key_column: str,
    *,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Count-Min sketch counters (Cormode & Muthukrishnan 2005) with
    engine-reproducible cells.

    Each occurrence of a key increments ``depth`` counters — one per
    hash row, bucket = portable 32-bit hash of (salt+row, key) mod
    ``width``. Counters are plain sums: associative, map-side
    combinable, mergeable across partitions/batches/days by addition —
    the sketch IS a DataFrame of (row, bucket, cnt), so incremental
    maintenance is a unionAll + re-aggregate away.

    At 100 TB the shuffle carries at most depth*width rows per map
    task (combiner-bounded), regardless of key cardinality — the
    frequency-table analog of hll_distinct's constant-state registers.

    Output: (row int, bucket int, cnt bigint), depth*width rows dense
    (absent cells are zero; they are NOT emitted).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    # NULL keys would address NULL cells; frequency semantics ignore them
    rows = df.where(F.col(key_column).isNotNull()).select(
        cms_cells(key_column, depth=depth, width=width, salt=salt)
    )
    return (
        rows.groupBy(F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_column: str,
    *,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point-query the sketch for each candidate key: est = min over
    hash rows of the addressed counter (the classic CMS upper bound —
    est >= true count always; over-estimation bounded by e*N/width with
    probability 1 - e^-depth).

    The candidate set is typically tiny (suspected heavy hitters), so
    the probe is a broadcast-friendly equi-join on (row, bucket) —
    never a scan of the keyed data.

    Output: (key string, est_count bigint).
    """
    probes = candidates.where(F.col(key_column).isNotNull()).select(
        F.col(key_column).cast("string").alias("key"),
        cms_cells(key_column, depth=depth, width=width, salt=salt),
    ).select("key", F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
    return (
        probes.join(sketch, ["row", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_count"))
    )


def kmv_join_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str | None = None,
    *,
    k: int = 256,
    salt: str = "kmv",
    exact: bool = False,
) -> DataFrame:
    """Sketch-based inner-equi-join cardinality estimate: the planner
    evidence for "should I broadcast / pre-aggregate / salt this
    join?" before paying for it. Two KMV sketches (k smallest distinct
    key hashes per side — constant state regardless of input size) +
    the two row counts estimate

        |A join B| ~ D_int * (nA / DA) * (nB / DB)

    where D_int is the estimated distinct-key overlap (KMV
    set-resemblance: sketches truncated to the smaller threshold tau,
    Jaccard = K_int/K_union, D_union = (K_union-1)*2^32/tau — Beyer et
    al. SIGMOD 2007) and nX/DX is each side's mean key multiplicity.
    The multiplicity factors assume uniform key frequencies — the
    estimate degrades on skewed keys (that is `skew_report`'s job to
    flag; the two tools together are the pre-join checklist).

    EVERYTHING is integer arithmetic in milli-units (floor div, exact
    BIGINTs cross-engine): each div truncates <= 0.1% relative — noise
    against the estimator's own sampling error at any practical k.
    Overflow bound: D_int_milli (<= 1000*D) times avg-multiplicity
    milli terms must stay < 2^63 — safe while D * multA * multB <
    9e12, i.e. any join whose TRUE size is below ~9 trillion rows;
    beyond that you did not need an estimator to know it is huge.

    A side with fewer than k distinct keys contributes its sketch as
    the complete key set (tau = 2^32, estimate exact). ``exact=True``
    adds the true join row count (sum over keys of cA*cB computed
    WITHOUT materializing the join) — the honesty column the [Q]
    checks; leave it off at scale.

    Output: one row — (n_left, n_right, k_int, k_union,
    est_distinct_left_milli, est_distinct_right_milli,
    est_intersection_milli, est_join_rows [, exact_join_rows]).
    """
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    right_key = right_key or left_key
    M = 1 << 32

    def side(df: DataFrame, key: str, tag: str):
        nn = df.where(F.col(key).isNotNull())
        n = nn.agg(F.count(F.lit(1)).cast("long").alias(f"n_{tag}"))
        hashes = (
            nn.select(hash_bucket(F.col(key), salt=salt, buckets=M).alias("h"))
            .distinct()
        )
        sk = hashes.orderBy("h").limit(k)
        stats = sk.agg(
            F.count(F.lit(1)).cast("long").alias(f"cnt_{tag}"),
            F.max("h").cast("long").alias(f"max_{tag}"),
        ).select(
            f"cnt_{tag}",
            # full-set sketch (cnt < k) -> tau = 2^32, estimate exact
            F.when(F.col(f"cnt_{tag}") < k, F.lit(M))
            .otherwise(F.col(f"max_{tag}"))
            .cast("long")
            .alias(f"tau_{tag}"),
        )
        return n, sk, stats

    nA, skA, stA = side(left, left_key, "l")
    nB, skB, stB = side(right, right_key, "r")
    both = stA.crossJoin(stB).select(
        "cnt_l", "cnt_r",
        F.least("tau_l", "tau_r").alias("tau"),
        F.col("tau_l"), F.col("tau_r"),
    )
    a = skA.select(F.col("h").alias("ha"))
    b = skB.select(F.col("h").alias("hb"))
    inter = (
        a.join(b, a["ha"] == b["hb"])
        .crossJoin(F.broadcast(both.select("tau")))
        .where(F.col("ha") < F.col("tau"))
        .agg(F.count(F.lit(1)).cast("long").alias("k_int"))
    )
    union = (
        a.select(F.col("ha").alias("h"))
        .unionByName(b.select(F.col("hb").alias("h")))
        .distinct()
        .crossJoin(F.broadcast(both.select(F.col("tau").alias("__tau"))))
        .where(F.col("h") < F.col("__tau"))
        .agg(F.count(F.lit(1)).cast("long").alias("k_union"))
    )
    row = (
        nA.crossJoin(nB).crossJoin(both).crossJoin(inter).crossJoin(union)
    )
    d_milli = lambda cnt, tau: (  # noqa: E731 — local expression macro
        F.when(F.col(tau) >= M, F.col(cnt) * 1000)
        .otherwise(
            F.expr(f"CAST(({k - 1} * CAST({M} AS BIGINT) * 1000) div {tau} AS BIGINT)")
        )
        .cast("long")
    )
    est = row.select(
        "n_l", "n_r", "k_int", "k_union",
        d_milli("cnt_l", "tau_l").alias("d_l_milli"),
        d_milli("cnt_r", "tau_r").alias("d_r_milli"),
        F.when(F.col("tau") >= M, F.col("k_union") * 1000)
        .otherwise(
            F.expr(
                f"CAST(((k_union - 1) * CAST({M} AS BIGINT) * 1000) div tau AS BIGINT)"
            )
        )
        .cast("long")
        .alias("d_union_milli"),
    ).select(
        "n_l", "n_r", "k_int", "k_union", "d_l_milli", "d_r_milli",
        F.expr(
            "CAST(CASE WHEN k_union = 0 THEN 0 "
            "ELSE (k_int * d_union_milli) div k_union END AS BIGINT)"
        ).alias("d_int_milli"),
    ).select(
        F.col("n_l").alias("n_left"),
        F.col("n_r").alias("n_right"),
        "k_int", "k_union",
        F.col("d_l_milli").alias("est_distinct_left_milli"),
        F.col("d_r_milli").alias("est_distinct_right_milli"),
        F.col("d_int_milli").alias("est_intersection_milli"),
        F.expr(
            "CAST(CASE WHEN d_l_milli = 0 OR d_r_milli = 0 THEN 0 ELSE "
            "((d_int_milli * ((n_l * 1000000) div d_l_milli)) div 1000)"
            " * ((n_r * 1000000) div d_r_milli) div 1000000 "
            "END AS BIGINT)"
        ).alias("est_join_rows"),
    )
    if exact:
        lc = (
            left.where(F.col(left_key).isNotNull())
            .groupBy(F.col(left_key).alias("__k"))
            .agg(F.count(F.lit(1)).cast("long").alias("__ca"))
        )
        rc = (
            right.where(F.col(right_key).isNotNull())
            .groupBy(F.col(right_key).alias("__k"))
            .agg(F.count(F.lit(1)).cast("long").alias("__cb"))
        )
        ex = lc.join(rc, "__k").agg(
            F.coalesce(F.sum(F.col("__ca") * F.col("__cb")), F.lit(0))
            .cast("long")
            .alias("exact_join_rows")
        )
        est = est.crossJoin(ex)
    return est


def kmv_partials(
    df: DataFrame,
    group_column: str,
    key_column: str,
    *,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Per-group KMV partial sketch: the k smallest distinct key
    hashes — the mergeable state behind :func:`kmv_distinct`. Build
    partials per shard/day/partition, union them, and
    :func:`kmv_from_partials` finishes the estimate; the merge is
    LOSSLESS (any hash among a union's k smallest is among its own
    partial's k smallest), so merged == direct, exactly — the KMV
    analog of hll_registers/hll_from_registers.

    Output: (grp, h) — up to k rows per group.
    """
    h = hash_bucket(F.col(key_column), salt=salt, buckets=1 << 32)
    hashes = (
        df.where(F.col(key_column).isNotNull())
        .select(F.col(group_column).alias("grp"), h.alias("h"))
        .groupBy("grp", "h")
        .agg(F.lit(1))
        .select("grp", "h")
    )
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("grp", "h")
    )


def kmv_from_partials(partials: DataFrame, *, k: int = 64) -> DataFrame:
    """Finish a KMV estimate from unioned partial sketches (see
    :func:`kmv_partials`): distinct the hashes, keep the k smallest
    per group, apply the (k-1)*2^32/h_k estimator (exact count when a
    group holds fewer than k distinct hashes). Same output columns as
    :func:`kmv_distinct` — the mergeability proof is their equality.
    """
    hashes = partials.select("grp", "h").distinct()
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    topk = hashes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    return (
        topk.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_le_k"), F.max("h").alias("hk"))
        .select(
            "grp",
            "n_le_k",
            F.when(F.col("n_le_k") < k, F.col("n_le_k").cast("double"))
            .otherwise(
                (F.lit(float(k - 1)) * F.lit(float(1 << 32))) / F.col("hk")
            )
            .alias("est_distinct"),
        )
    )


def kmv_set_estimates(
    left: DataFrame,
    right: DataFrame,
    key_column: str,
    *,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Sketch-level set algebra between two key populations: distinct
    counts of each side, their union, and — by inclusion-exclusion —
    intersection and one-sided differences, all from KMV sketches
    (Bar-Yossef et al. 2002) that never materialize either key set.

    The pipeline question this answers at 100 TB: "how many users /
    documents / n-grams do these two sources share?" without a
    distinct-join. The union sketch is EXACT sketch algebra (any hash
    among the union's k smallest is among its own side's k smallest —
    the `kmv_partials` lossless-merge property), so est_union has
    plain KMV error; intersection inherits additive error from
    inclusion-exclusion (poor for tiny overlaps — the estimates say
    so themselves: values are clamped at 0, and each side's
    ``n_le_k < k`` means that side is EXACT).

    Float discipline: each base estimate is ONE IEEE division of
    exact integers ((k-1) * 2^32 / h_k); the derived estimates are a
    fixed-order add/subtract chain of those doubles — deterministic
    on any IEEE-754 engine, hence oracle-checkable.

    Plan: per side, one dedupe shuffle of (hash) + a k-row window;
    the union sketch merges two <= k-row frames. Nothing downstream
    of the dedupe exceeds 2k rows.

    Output: one row (n_left_le_k, n_right_le_k, est_left, est_right,
    est_union, est_intersection, est_left_only, est_right_only).
    """
    if k < 2:
        raise ValueError("k must be >= 2")

    def sketch(df: DataFrame) -> DataFrame:
        h = hash_bucket(F.col(key_column), salt=salt, buckets=1 << 32)
        hashes = (
            df.where(F.col(key_column).isNotNull())
            .select(h.alias("h"))
            .distinct()
        )
        # global top-k as sort+limit, NOT an un-partitioned rank
        # window: Spark's InferWindowGroupLimit does not fire on an
        # empty partitionSpec (r10 plan probe — the r9 assumption that
        # it did was WRONG), so a global window would drag every
        # distinct hash into one partition. TakeOrderedAndProject
        # computes per-partition top-k map-side and merges k rows —
        # pinned by tests/test_sketches.py's plan-shape assertion.
        return hashes.orderBy(F.col("h").asc()).limit(k)

    def finish(sk: DataFrame, tag: str) -> DataFrame:
        return sk.agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}_le_k"),
            F.max("h").alias("__hk"),
        ).select(
            f"n_{tag}_le_k",
            F.when(
                F.col(f"n_{tag}_le_k") < k,
                F.col(f"n_{tag}_le_k").cast("double"),
            )
            .otherwise(
                (F.lit(float(k - 1)) * F.lit(float(1 << 32))) / F.col("__hk")
            )
            .alias(f"est_{tag}"),
        )

    sl, sr = sketch(left), sketch(right)
    union_sk = sl.unionAll(sr).distinct()
    # <= 2k rows by construction; same sort+limit shape as sketch()
    union_topk = union_sk.orderBy(F.col("h").asc()).limit(k)
    return (
        finish(sl, "left")
        .crossJoin(finish(sr, "right"))
        .crossJoin(
            finish(union_topk, "union").select("est_union")
        )
        .select(
            "n_left_le_k",
            "n_right_le_k",
            "est_left",
            "est_right",
            "est_union",
            F.greatest(
                F.lit(0.0),
                F.col("est_left") + F.col("est_right") - F.col("est_union"),
            ).alias("est_intersection"),
            F.greatest(
                F.lit(0.0), F.col("est_union") - F.col("est_right")
            ).alias("est_left_only"),
            F.greatest(
                F.lit(0.0), F.col("est_union") - F.col("est_left")
            ).alias("est_right_only"),
        )
    )


def hll_set_estimates(
    left: DataFrame,
    right: DataFrame,
    key_column: str,
    *,
    p: int = 6,
    salt: str = "hll",
) -> DataFrame:
    """HLL twin of :func:`kmv_set_estimates` — set algebra between two
    key populations from CONSTANT-STATE sketches: m = 2^p registers
    per side regardless of cardinality, where KMV keeps k hash rows.
    The union sketch is exact sketch algebra (register-wise max — the
    same merge `hll_from_registers` already proves mergeable);
    intersection and one-sided differences come from
    inclusion-exclusion over the three base estimates, clamped at 0.

    Why both families ship set ops: KMV's estimate is exact below k
    and its merge is lossless row algebra — the audit-friendly
    choice; HLL's state is 64 integers no matter how many keys flow
    through — the 100 TB streaming choice (hll_registers is already
    the maintained state in streaming/sketches.py, so this finisher
    works directly on persisted register tables too).

    Float discipline: each base estimate is `hll_from_registers`'
    literal-double harmonic form over exact integer register sums;
    the derived values are a fixed-order add/subtract chain of those
    doubles — deterministic on any IEEE-754 engine, oracle-checkable.

    Output: one row (est_left, est_right, est_union,
    est_intersection, est_left_only, est_right_only).
    """

    def regs(df: DataFrame, tag: str) -> DataFrame:
        return hll_registers(
            df.select(F.lit(tag).alias("__g"), F.col(key_column)),
            "__g",
            key_column,
            p=p,
            salt=salt,
        )

    rl, rr = regs(left, "l"), regs(right, "r")
    union = (
        rl.unionByName(rr)
        .groupBy("j")
        .agg(F.max("M").alias("M"))
        .select(F.lit("u").alias("grp"), "j", "M")
    )

    def est(r: DataFrame, tag: str) -> DataFrame:
        return hll_from_registers(r, p=p).select(
            F.col("est_hll").alias(f"est_{tag}")
        )

    return (
        est(rl, "left")
        .crossJoin(est(rr, "right"))
        .crossJoin(est(union, "union"))
        .select(
            "est_left",
            "est_right",
            "est_union",
            F.greatest(
                F.lit(0.0),
                F.col("est_left") + F.col("est_right") - F.col("est_union"),
            ).alias("est_intersection"),
            F.greatest(
                F.lit(0.0), F.col("est_union") - F.col("est_right")
            ).alias("est_left_only"),
            F.greatest(
                F.lit(0.0), F.col("est_union") - F.col("est_left")
            ).alias("est_right_only"),
        )
    )


def _mg_truncate(counts: DataFrame, *, k: int) -> DataFrame:
    """One Misra-Gries truncation: subtract the (k+1)-th largest count
    from every key and keep the positive top-k survivors.

    This is the closed-form MG summary of a KNOWN multiset (Agarwal,
    Cormode, Huang, Phillips, Wei & Yi, "Mergeable Summaries", PODS
    2012 §3): there are k+1 keys with count >= t (t = the (k+1)-th
    largest, 0 when fewer than k+1 keys), so the subtraction removes
    at least (k+1)*t total mass -- which is exactly the argument that
    caps the summed thresholds of ANY merge tree at n/(k+1). Ties are
    broken (count desc, key asc) so both engines pick the same t.

    Input/output: (key, est) -- at most k rows out.

    Plan discipline: the input is referenced ONCE -- rank and threshold
    are two windows over the same (tiny, <= 2k-row) sort, not a
    self-join -- so folding B summaries builds a LINEAR plan. A
    self-join here doubles the plan per fold level (2^B subtree
    expansions; Catalyst planning alone dominated the fold before this
    was a window).
    """
    w = Window.orderBy(F.col("est").desc(), F.col("key").asc())
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = counts.withColumn("rn", F.row_number().over(w)).withColumn(
        "__t",
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("est"))).over(wall),
            F.lit(0),
        ),
    )
    return (
        ranked.where((F.col("rn") <= k) & (F.col("est") > F.col("__t")))
        .select("key", (F.col("est") - F.col("__t")).alias("est"))
    )


def mg_bucket_summaries(
    df: DataFrame,
    key_column: str,
    row_column: str,
    *,
    k: int = 8,
    buckets: int = 8,
    salt: str = "mg",
) -> DataFrame:
    """Per-bucket Misra-Gries heavy-hitter summaries (<= k rows each).

    Rows are routed to ``buckets`` deterministic shards by the portable
    sha hash of their ROW identity (not the key -- every shard sees an
    unbiased slice of the stream), each shard's key counts are
    MG-truncated to k counters, and the summaries merge losslessly-
    bounded via :func:`mg_merge` / :func:`mg_heavy_hitters` with total
    underestimate <= n/(k+1) regardless of merge order (Agarwal et al.
    2012, Theorem 3.1). The 100 TB use is INCREMENTAL heavy hitters:
    persist the <= buckets*k summary rows per day/shard, summarize only
    the new data, and re-merge -- no re-scan of history and no stored
    full count table.

    Plan shape: ONE map-side-combinable groupBy(bucket, key) count,
    then a per-bucket rank window over at most (k+1)-deep survivors
    (WindowGroupLimit pushes the rank filter into the sort).

    Output: (bucket, key string, est bigint).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    counts = (
        df.where(F.col(key_column).isNotNull())
        .select(
            hash_bucket(F.col(row_column), salt=salt, buckets=buckets)
            .alias("bucket"),
            F.col(key_column).cast("string").alias("key"),
        )
        .groupBy("bucket", "key")
        .agg(F.count(F.lit(1)).cast("long").alias("est"))
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("est").desc(), F.col("key").asc()
    )
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # rank + threshold as two windows over ONE sort (single input
    # reference -- see _mg_truncate): no self-join, no double scan of
    # the counts shuffle
    ranked = counts.withColumn("rn", F.row_number().over(w)).withColumn(
        "__t",
        F.coalesce(
            F.max(F.when(F.col("rn") == k + 1, F.col("est"))).over(wall),
            F.lit(0),
        ),
    )
    return ranked.where(
        (F.col("rn") <= k) & (F.col("est") > F.col("__t"))
    ).select("bucket", "key", (F.col("est") - F.col("__t")).alias("est"))


def mg_merge(left: DataFrame, right: DataFrame, *, k: int = 8) -> DataFrame:
    """Merge two Misra-Gries summaries: add per-key estimates, then one
    MG truncation back to k counters. Associativity of the ERROR BOUND
    (not the counters -- different merge trees give different counters,
    all within n/(k+1)) is the Agarwal et al. 2012 result; this repo
    fixes the fold order (bucket 0..B-1) so the result is also
    bit-deterministic and oracle-checkable.

    Input/output: (key, est).
    """
    summed = (
        left.select("key", "est")
        .unionByName(right.select("key", "est"))
        .groupBy("key")
        .agg(F.sum("est").cast("long").alias("est"))
    )
    return _mg_truncate(summed, k=k)


def mg_heavy_hitters(
    df: DataFrame,
    key_column: str,
    row_column: str,
    *,
    k: int = 8,
    buckets: int = 8,
    salt: str = "mg",
) -> DataFrame:
    """End-to-end mergeable heavy hitters: bucket summaries folded
    left-to-right in bucket order. Every intermediate is <= 2k rows, so
    the fold is B-1 tiny stages over broadcast-size data; the heavy
    work is the single groupBy in :func:`mg_bucket_summaries`.

    Guarantee (probe it with an exact join): 0 <= true(key) - est(key)
    <= n/(k+1) for every key, where absent keys read est = 0; ests
    never exceed true counts. Complements :func:`cms_counts`, which
    only OVERestimates -- the two sketches bracket the true count.

    Output: (key string, est bigint), at most k rows.
    """
    summaries = mg_bucket_summaries(
        df, key_column, row_column, k=k, buckets=buckets, salt=salt
    )
    # the fold references the summary table `buckets` times; an eager
    # localCheckpoint of the <= buckets*k rows runs the heavy
    # groupBy(bucket, key) shuffle exactly ONCE (same per-pass
    # discipline as the strip-fixpoint machinery)
    summaries = summaries.transform(_barrier)
    acc: DataFrame | None = None
    for b in range(buckets):
        part = summaries.where(F.col("bucket") == b).select("key", "est")
        acc = part if acc is None else mg_merge(acc, part, k=k)
    assert acc is not None
    return acc


# --- q-digest: deterministic mergeable quantile sketch --------------------
# (Shrivastava, Buragohain, Agrawal & Suri 2004, "Medians and Beyond" —
# the quantile member of the mergeable-sketch family next to KMV/HLL
# (distinct), CMS (over-counts), and MG (under-counts): bounded-space
# quantile summaries with a DETERMINISTIC rank-error guarantee
# |reported_rank - target| <= bits * n / k, mergeable by count-sum +
# recompress. KLL/t-digest beat it on constants but are randomized /
# float-centroid — this one replays bit-for-bit in any engine.)


def _qdigest_py_compress(counts: dict, bits: int, thr: int) -> dict:
    """Pure-Python bottom-up q-digest compression — the same
    deterministic rule as the batch _qdigest_compress set algebra
    (children merge into the parent iff subtree sum + parent count
    <= thr), run in-memory because the state is BOUNDED (<= 3k nodes
    by the size theorem) — the mg_state_update class of per-shard
    Python truncation. Also the batch build's TAIL: once the
    distributed loop's working set fits the bounded-collect class,
    the remaining levels run here instead of paying 2 checkpoint
    barriers per level to move a handful of rows (measured r14:
    levels below ~2^12 working-set each cost ~0.5 s of pure barrier
    for one-row tables)."""
    for d in range(bits, 0, -1):
        lo, hi = 1 << d, 2 << d
        by_parent = {}
        for nid in [i for i in counts if lo <= i < hi]:
            by_parent.setdefault(nid // 2, []).append(nid)
        for pid, kids in by_parent.items():
            csum = sum(counts[i] for i in kids)
            pcnt = counts.get(pid, 0)
            if csum + pcnt <= thr:
                for i in kids:
                    del counts[i]
                counts[pid] = csum + pcnt
    return counts


#: working-set size at which the distributed compression loop hands
#: its remainder to the Python tail — bounded-collect class: the
#: working set is SKETCH STATE (leaf histogram / digest nodes), capped
#: a-priori by min(distinct values, 2^bits) regardless of corpus size,
#: and the collect itself is additionally gated on the ACTUAL row
#: count being <= this threshold (2^18 rows of (id, cnt) ~ 4 MB, two
#: orders below the 1 GB driver result limit). r16 optimization round:
#: raised 4096 -> 2^18 — each elided level cost TWO eager-checkpoint
#: barriers (~0.5 s of pure job latency per level for sub-4096-row
#: tables, measured r14), while the Python rule is bit-identical; at a
#: dense 2^20-leaf universe the distributed loop still runs the top
#: levels until halving brings the working set under the threshold,
#: so the route stays scale-adaptive by construction.
_QDIGEST_PY_TAIL_ROWS = 1 << 18


def _qdigest_start_depth(nodes: DataFrame, *, bits: int) -> int:
    """Deepest occupied level of a node multiset: bit_length(max id)
    - 1, one bounded scalar agg. Compression levels above it are
    no-ops — starting there (instead of a fixed ``bits``) cuts the
    per-level eager-checkpoint barriers for already-compressed inputs
    (merge) whose nodes sit well above the leaf level."""
    row = nodes.agg(F.max("id").alias("m")).first()
    m = row["m"] if row else None
    if m is None:
        return 0  # empty digest: no levels to compress
    return min(bits, int(m).bit_length() - 1)


def _qdigest_compress(
    nodes: DataFrame, *, bits: int, thr: int, start_depth: int | None = None
) -> DataFrame:
    """Bottom-up q-digest compression of a heap-id node multiset:
    for each level d = bits..1, children whose subtree sum plus the
    existing parent count fits under ``thr`` merge INTO the parent
    (the paper's c(v)+c(sibling)+c(parent) <= floor(n/k) rule);
    otherwise the children stay in the digest. Deterministic set
    algebra level by level; every intermediate table is bounded by
    min(distinct values, 2^bits) rows, and each level's outputs
    eagerly localCheckpoint (the fixpoint discipline): the per-level
    3-way fan-out (pass-through / kept children / parents) re-reads a
    materialized table instead of re-evaluating a forked lazy chain —
    without the cut the logical plan forks 3-ways PER LEVEL and
    Catalyst analysis goes exponential (measured: a lazy/persist()
    variant hung outright; persist substitution happens too late to
    stop the analyzer walking the 3^levels tree).

    Barrier-count levers (r13 latency adjudication — the ~9 s fixed
    build cost WAS 2 checkpoint barriers x ``bits`` levels, run even
    when empty): (1) ``start_depth`` skips levels above the deepest
    occupied node (build passes ``bits`` — leaves always sit there;
    merge computes it from max id, one bounded scalar agg); (2) the
    loop BREAKS once ``cur`` is empty — every remaining node is in
    ``kept`` and all shallower levels are provably no-ops (new
    parents land exactly one level up, so an empty ``cur`` can never
    repopulate). Both skips only ever elide empty-input levels, so
    the output digest is bit-identical — the [Q] oracles, which
    unroll ALL ``bits`` levels CTE-for-CTE, prove it every
    selfcheck."""
    kept = []
    cur = nodes
    if start_depth is None:
        start_depth = _qdigest_start_depth(nodes, bits=bits)
    for d in range(start_depth, 0, -1):
        lo, hi, parlo = 1 << d, 2 << d, 1 << (d - 1)
        at_d = cur.where((F.col("id") >= lo) & (F.col("id") < hi))
        rest = cur.where(F.col("id") < parlo)
        parents = cur.where((F.col("id") >= parlo) & (F.col("id") < lo))
        sums = at_d.groupBy(F.expr("id div 2").alias("pid")).agg(
            F.sum("cnt").cast("long").alias("csum")
        )
        dec = (
            sums.join(
                parents.select(
                    F.col("id").alias("pid"), F.col("cnt").alias("pcnt")
                ),
                "pid",
                "full",
            )
            .select(
                "pid",
                F.coalesce(F.col("csum"), F.lit(0)).alias("csum"),
                F.coalesce(F.col("pcnt"), F.lit(0)).alias("pcnt"),
            )
            .withColumn("merge", (F.col("csum") + F.col("pcnt")) <= F.lit(thr))
            .transform(_barrier)
        )
        kept_children = at_d.join(
            dec.where(~F.col("merge")).select("pid"),
            F.expr("id div 2") == F.col("pid"),
        ).select("id", "cnt")
        kept.append(kept_children)
        new_parents = dec.select(
            F.col("pid").alias("id"),
            F.when(F.col("merge"), F.col("csum") + F.col("pcnt"))
            .otherwise(F.col("pcnt"))
            .cast("long")
            .alias("cnt"),
        ).where(F.col("cnt") > 0)
        cur = rest.unionByName(new_parents).transform(_barrier)
        # checkpointed — reading a prefix is a local read, not a job
        head = cur.take(_QDIGEST_PY_TAIL_ROWS + 1)
        if not head:
            break
        if len(head) <= _QDIGEST_PY_TAIL_ROWS and d > 1:
            # the working set fits the bounded-collect class: finish
            # the remaining d-1..1 levels in Python (identical merge
            # rule — see _qdigest_py_compress) instead of paying two
            # checkpoint barriers per level to shuffle a few rows.
            # head IS all of cur (take returned fewer than asked).
            counts = _qdigest_py_compress(
                {int(r["id"]): int(r["cnt"]) for r in head}, d - 1, thr
            )
            cur = nodes.sparkSession.createDataFrame(
                sorted(counts.items()), "id long, cnt long"
            )
            break
    out = cur
    for kc in kept:
        out = out.unionByName(kc)
    return out


def qdigest_build(
    df: DataFrame,
    value_column: str,
    *,
    bits: int = 20,
    k: int = 64,
) -> DataFrame:
    """Build a q-digest over integer values in [0, 2^bits).

    One corpus-sized groupBy(value) — after it every table is bounded
    by min(distinct values, 2^bits) rows regardless of corpus size —
    then the bottom-up compression. Out-of-range or negative values
    ``raise_error`` per row (the pass_at_k guard discipline) instead
    of silently folding into a wrong leaf. Only ONE scalar (the total
    count, for the floor(n/k) threshold) reaches the driver.

    Output: (id bigint — heap id, node at depth d spans
    2^(bits-d) consecutive values, cnt bigint). Node count is bounded
    by 3k by the q-digest size theorem.
    """
    if not 1 <= bits <= 30:
        raise ValueError(f"bits must be in [1, 30], got {bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    top = 1 << bits
    v = (
        df.select(F.col(value_column).cast("long").alias("v"))
        .where(F.col("v").isNotNull())
        .withColumn(
            "v",
            F.when((F.col("v") >= 0) & (F.col("v") < top), F.col("v")).otherwise(
                F.expr(
                    "CAST(raise_error(concat('qdigest: value ',"
                    " CAST(v AS STRING),"
                    f" ' outside [0, 2^{bits}) — rescale or raise bits'))"
                    " AS BIGINT)"
                )
            ),
        )
    )
    leaves = v.groupBy((F.col("v") + F.lit(top)).alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # r16 optimization round: materialize the bounded leaf table ONCE
    # (eager localCheckpoint — the one corpus-sized job), then route
    # from a LOCAL read: when the whole working set already fits the
    # bounded-collect tail, n, thr and every compression level run in
    # Python on the driver (identical merge rule — bit-identical
    # digest, proven by the [Q] oracles which unroll all levels
    # CTE-for-CTE). Before: one scalar-agg job for n plus two eager-
    # checkpoint barriers PER LEVEL until the in-loop tail kicked in
    # (~10 jobs at sf0.1). After: one job + one local createDataFrame.
    leaves = leaves.transform(_barrier)
    head = leaves.take(_QDIGEST_PY_TAIL_ROWS + 1)
    if len(head) <= _QDIGEST_PY_TAIL_ROWS:
        counts = {int(r["id"]): int(r["cnt"]) for r in head}
        n = sum(counts.values())
        thr = n // k
        if thr == 0:  # fewer than k values: digest IS the leaf histogram
            return leaves
        counts = _qdigest_py_compress(counts, bits, thr)
        return df.sparkSession.createDataFrame(
            sorted(counts.items()), "id long, cnt long"
        )
    n = leaves.agg(F.sum("cnt")).first()[0] or 0  # one bounded scalar
    thr = n // k
    if thr == 0:  # fewer than k values: the digest IS the leaf histogram
        return leaves
    # leaves sit at depth == bits by construction (id = v + 2^bits) —
    # no scalar agg needed to find the occupied depth
    return _qdigest_compress(leaves, bits=bits, thr=thr, start_depth=bits)


def qdigest_merge(
    a: DataFrame, b: DataFrame, *, bits: int = 20, k: int = 64
) -> DataFrame:
    """Merge two q-digests over the same [0, 2^bits) universe:
    count-sum by node id, then one recompression under the MERGED
    total's floor(n/k) threshold — the paper's merge, each side's
    error adds (total rank error stays <= bits * n_merged / k +
    the inputs' carried error; probe it with qdigest_guarantee)."""
    summed = (
        a.select("id", "cnt")
        .unionByName(b.select("id", "cnt"))
        .groupBy("id")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    n = summed.agg(F.sum("cnt")).first()[0] or 0
    thr = n // k
    if thr == 0:
        return summed
    return _qdigest_compress(summed, bits=bits, thr=thr)


def _validate_q_milli(q_milli) -> None:
    """Quantile targets must be in (0, 1000] — a q > 1000 produces a
    target_rank beyond n so the crossing join never matches and the
    row would just VANISH, and q <= 0 would degenerate to the minimum:
    both violate the no-silent-caps rule, so fail loudly (r13
    advice)."""
    if not q_milli:
        raise ValueError("q_milli must be non-empty")
    bad = [q for q in q_milli if not 0 < int(q) <= 1000]
    if bad:
        raise ValueError(
            f"q_milli entries must be in (0, 1000], got {bad}"
        )


def qdigest_quantiles(
    digest: DataFrame,
    *,
    bits: int = 20,
    q_milli: tuple = (250, 500, 750, 900, 990),
) -> DataFrame:
    """Quantile extraction from a q-digest: nodes walk in canonical
    order (right endpoint asc, then span asc, then id — most-specific
    first), and each target rank ceil(q*n) reports the right endpoint
    of the first node where the running count crosses it. The cumsum
    window runs over the BOUNDED digest (<= 3k nodes — the mg-fold
    class of single-sort windows, never the corpus).

    Output: one row per requested quantile (q_milli bigint, value
    bigint, target_rank bigint, n bigint).
    """
    _validate_q_milli(q_milli)
    nodes = digest.select(
        "id",
        "cnt",
        F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {bits} - "
               "(length(conv(CAST(id AS STRING), 10, 2)) - 1)) AS BIGINT)")
        .alias("span"),
    ).select(
        "id",
        "cnt",
        "span",
        F.expr(
            "(id - shiftleft(CAST(1 AS BIGINT),"
            " length(conv(CAST(id AS STRING), 10, 2)) - 1)) * span"
            " + span - 1"
        ).alias("end"),
    )
    w = (
        Window.orderBy(F.col("end").asc(), F.col("span").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = nodes.select(
        "end", F.sum("cnt").over(w).cast("long").alias("cum")
    )
    total = digest.agg(F.sum("cnt").cast("long").alias("n"))
    targets = total.select(
        "n",
        F.explode(
            F.array(*[F.lit(int(q)).cast("long") for q in q_milli])
        ).alias("q_milli"),
    ).select(
        "n",
        "q_milli",
        F.expr("CAST((q_milli * n + 999) div 1000 AS BIGINT)").alias(
            "target_rank"
        ),
    )
    return (
        targets.join(cum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q_milli", "target_rank", "n")
        .agg(F.min("end").cast("long").alias("value"))
        .select("q_milli", "value", "target_rank", "n")
    )


def qdigest_build_grouped(
    df: DataFrame,
    group_column: str,
    value_column: str,
    *,
    bits: int = 20,
    k: int = 64,
) -> DataFrame:
    """Per-group q-digests in ONE pass — the grouped quantile summary
    (per-source length quantiles, per-language score percentiles) that
    a fixed-bin histogram or a per-group collect cannot give at scale.
    Same bottom-up compression as :func:`qdigest_build` with the group
    key threaded through every groupBy/join and the floor(n_g/k)
    threshold carried as a COLUMN from a per-group meta table (no
    driver scalar at all — strictly more distributed than the global
    build). Groups with n_g < k get thr 0 and keep their exact leaf
    histogram. State per group is bounded by 3k nodes, so the total
    digest table is |groups| * 3k rows.

    Output: (grp, id, cnt).
    """
    if not 1 <= bits <= 30:
        raise ValueError(f"bits must be in [1, 30], got {bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    top = 1 << bits
    v = (
        df.select(
            F.col(group_column).alias("grp"),
            F.col(value_column).cast("long").alias("v"),
        )
        .where(F.col("v").isNotNull() & F.col("grp").isNotNull())
        .withColumn(
            "v",
            F.when((F.col("v") >= 0) & (F.col("v") < top), F.col("v")).otherwise(
                F.expr(
                    "CAST(raise_error(concat('qdigest: value ',"
                    " CAST(v AS STRING),"
                    f" ' outside [0, 2^{bits}) — rescale or raise bits'))"
                    " AS BIGINT)"
                )
            ),
        )
    )
    leaves = v.groupBy("grp", (F.col("v") + F.lit(top)).alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    # r16 optimization round: same bounded-collect fast path as the
    # global build — the grouped leaf table is sketch state (sum of
    # per-group min(distinct, 2^bits) histograms); materialize it once
    # and, when it already fits the Python tail, derive every group's
    # n/thr and run all compression levels on the driver (identical
    # per-group merge rule — bit-identical digests, oracle-proven).
    # Before: the meta scalar job plus two checkpoint barriers per
    # level. After: one job + one local createDataFrame.
    leaves = leaves.transform(_barrier)
    head0 = leaves.take(_QDIGEST_PY_TAIL_ROWS + 1)
    if len(head0) <= _QDIGEST_PY_TAIL_ROWS:
        by_grp: dict = {}
        for r in head0:
            by_grp.setdefault(r["grp"], {})[int(r["id"])] = int(r["cnt"])
        rows = []
        for g, counts in by_grp.items():
            thr = sum(counts.values()) // k
            done = (
                _qdigest_py_compress(counts, bits, thr) if thr > 0 else counts
            )
            rows.extend((g, i, c) for i, c in sorted(done.items()))
        return df.sparkSession.createDataFrame(
            sorted(rows), schema=leaves.schema
        )
    meta = (
        leaves.groupBy("grp")
        .agg(F.sum("cnt").cast("long").alias("__n"))
        .select("grp", F.expr(f"CAST(__n div {k} AS BIGINT)").alias("thr"))
        .transform(_barrier)
    )
    kept = []
    cur = leaves
    for d in range(bits, 0, -1):
        lo, hi, parlo = 1 << d, 2 << d, 1 << (d - 1)
        at_d = cur.where((F.col("id") >= lo) & (F.col("id") < hi))
        rest = cur.where(F.col("id") < parlo)
        parents = cur.where((F.col("id") >= parlo) & (F.col("id") < lo))
        sums = at_d.groupBy("grp", F.expr("id div 2").alias("pid")).agg(
            F.sum("cnt").cast("long").alias("csum")
        )
        dec = (
            sums.join(
                parents.select(
                    "grp", F.col("id").alias("pid"), F.col("cnt").alias("pcnt")
                ),
                ["grp", "pid"],
                "full",
            )
            .select(
                "grp",
                "pid",
                F.coalesce(F.col("csum"), F.lit(0)).alias("csum"),
                F.coalesce(F.col("pcnt"), F.lit(0)).alias("pcnt"),
            )
            .join(F.broadcast(meta), "grp")
            .withColumn(
                "merge", (F.col("csum") + F.col("pcnt")) <= F.col("thr")
            )
            .transform(_barrier)
        )
        kept_children = at_d.alias("c").join(
            dec.where(~F.col("merge")).select("grp", "pid").alias("d"),
            (F.col("c.grp") == F.col("d.grp"))
            & (F.expr("c.id div 2") == F.col("d.pid")),
        ).select("c.grp", "c.id", "c.cnt")
        kept.append(kept_children)
        new_parents = dec.select(
            "grp",
            F.col("pid").alias("id"),
            F.when(F.col("merge"), F.col("csum") + F.col("pcnt"))
            .otherwise(F.col("pcnt"))
            .cast("long")
            .alias("cnt"),
        ).where(F.col("cnt") > 0)
        cur = rest.unionByName(new_parents).transform(_barrier)
        head = cur.take(_QDIGEST_PY_TAIL_ROWS + 1)
        if not head:  # an empty cur can never repopulate a level up
            break
        if len(head) <= _QDIGEST_PY_TAIL_ROWS and d > 1:
            # bounded Python tail, grouped: per-group thresholds for
            # JUST the groups still in flight (a second bounded
            # collect, <= len(head) rows) — same merge rule per group
            grps = sorted({r["grp"] for r in head})
            thr_by = {
                r["grp"]: int(r["thr"])
                for r in meta.where(F.col("grp").isin(grps)).collect()
            }
            by_grp: dict = {}
            for r in head:
                by_grp.setdefault(r["grp"], {})[int(r["id"])] = int(r["cnt"])
            rows = []
            for g, counts in by_grp.items():
                done = _qdigest_py_compress(counts, d - 1, thr_by[g])
                rows.extend((g, i, c) for i, c in sorted(done.items()))
            cur = df.sparkSession.createDataFrame(
                sorted(rows), schema=cur.schema  # grp keeps its type
            )
            break
    out = cur
    for kc in kept:
        out = out.unionByName(kc)
    return out


def qdigest_quantiles_grouped(
    digest: DataFrame,
    *,
    bits: int = 20,
    q_milli: tuple = (250, 500, 750, 900, 990),
) -> DataFrame:
    """Per-group quantile extraction from :func:`qdigest_build_grouped`
    output — the cumsum window PARTITIONS BY group (no single-partition
    sort anywhere, unlike the global extractor's one bounded sort).

    Output: one row per (grp, quantile): (grp, q_milli, value,
    target_rank, n).
    """
    _validate_q_milli(q_milli)
    nodes = digest.select(
        "grp",
        "id",
        "cnt",
        F.expr(
            f"CAST(shiftleft(CAST(1 AS BIGINT), {bits} - "
            "(length(conv(CAST(id AS STRING), 10, 2)) - 1)) AS BIGINT)"
        ).alias("span"),
    ).select(
        "grp",
        "id",
        "cnt",
        "span",
        F.expr(
            "(id - shiftleft(CAST(1 AS BIGINT),"
            " length(conv(CAST(id AS STRING), 10, 2)) - 1)) * span"
            " + span - 1"
        ).alias("end"),
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.col("end").asc(), F.col("span").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = nodes.select(
        "grp", "end", F.sum("cnt").over(w).cast("long").alias("cum")
    )
    totals = digest.groupBy("grp").agg(F.sum("cnt").cast("long").alias("n"))
    targets = totals.select(
        "grp",
        "n",
        F.explode(
            F.array(*[F.lit(int(q)).cast("long") for q in q_milli])
        ).alias("q_milli"),
    ).select(
        "grp",
        "n",
        "q_milli",
        F.expr("CAST((q_milli * n + 999) div 1000 AS BIGINT)").alias(
            "target_rank"
        ),
    )
    return (
        targets.alias("t")
        .join(
            cum.alias("c"),
            (F.col("t.grp") == F.col("c.grp"))
            & (F.col("c.cum") >= F.col("t.target_rank")),
        )
        .groupBy("t.grp", "t.q_milli", "t.target_rank", "t.n")
        .agg(F.min("c.end").cast("long").alias("value"))
        .select(
            F.col("grp"), "q_milli", "value", "target_rank", "n"
        )
    )

"""Per-group robust statistics for curation pipelines: winsorization
(clip at group quantiles) and z-score outlier flagging.

Float-parity design: every derived float is produced by ONE arithmetic
expression over EXACT integer aggregates (cents sums, squared-cents
sums, counts), evaluated in the same operation order the SQL oracle
writes — so cross-engine hashes match bit-for-bit without tolerance
windows. Group aggregates are tiny (one row per group) and broadcast
back onto the fact side: the big table is never shuffled twice.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["winsorize", "zscore_outliers"]


def winsorize(
    df: DataFrame,
    value_column: str,
    group_column: str,
    *,
    lo: float = 0.05,
    hi: float = 0.95,
    output_column: str = "clipped",
    decimals: int = 4,
    exact: bool = True,
) -> DataFrame:
    """Clip ``value_column`` to its per-group [lo, hi] quantiles.

    ``exact=True`` (default): Spark's `percentile` — linear
    interpolation on order statistics, the (n-1)*p rule DuckDB's
    `quantile_cont` shares, so results are oracle-reproducible. BUT the
    exact aggregate buffers every group value in aggregation state —
    fine up to millions of rows per group, NOT the 100 TB path.

    ``exact=False`` (the scale path): `percentile_approx`
    (Greenwald-Khanna sketch, bounded state per group) — what a real
    100 TB winsorization should run; bounds are approximate, so it is
    not hash-comparable across engines and the oracle-checked [Q] keeps
    the exact form at test SF.

    Either way the bounds are one tiny aggregate broadcast back, and
    the clip is a projection in the probe stage — the fact table keeps
    its partitioning.
    """
    if exact:
        # r16: ONE percentile aggregate with both targets — two separate
        # percentile() calls each buffer and sort the full group in
        # aggregation state; the array form buffers/sorts once and
        # interpolates both bounds from the same order statistics
        # (identical values by construction)
        bounds = (
            df.groupBy(group_column)
            .agg(
                F.percentile(
                    value_column, F.array(F.lit(lo), F.lit(hi))
                ).alias("__b")
            )
            .select(
                group_column,
                F.col("__b")[0].alias("__lo"),
                F.col("__b")[1].alias("__hi"),
            )
        )
    else:
        bounds = df.groupBy(group_column).agg(
            F.percentile_approx(value_column, F.lit(lo), F.lit(10000)).alias("__lo"),
            F.percentile_approx(value_column, F.lit(hi), F.lit(10000)).alias("__hi"),
        )
    clipped = F.least(F.greatest(F.col(value_column), F.col("__lo")), F.col("__hi"))
    return (
        df.join(F.broadcast(bounds), group_column)
        .withColumn(output_column, F.round(clipped, decimals))
        .drop("__lo", "__hi")
    )


def zscore_outliers(
    df: DataFrame,
    value_column: str,
    group_column: str,
    id_column: str,
    *,
    threshold: float = 3.0,
    decimals: int = 3,
) -> DataFrame:
    """Rows whose per-group z-score exceeds ``threshold`` in magnitude.

    Mean and sample variance come from exact integer aggregates
    (sum of cents, sum of squared cents, count):

        mean = s / n
        var  = (ssq - (s/n)*s) / (n - 1)
        z    = (cents - mean) / sqrt(var)

    written with that exact operation order on both engines, so the
    doubles agree bit-for-bit.

    Output: (id, group, cents, z) for |z| > threshold.
    """
    cents = F.round(F.col(value_column) * 100).cast("long")
    scoped = df.select(
        F.col(id_column).alias("id"),
        F.col(group_column).alias("grp"),
        cents.alias("cents"),
    )
    stats = scoped.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ssq"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ssq") - mean * F.col("s")) / (F.col("n") - F.lit(1))
    z = (F.col("cents") - mean) / F.sqrt(var)
    return (
        scoped.join(F.broadcast(stats), "grp")
        .where(F.col("n") > 1)
        .withColumn("z", F.round(z, decimals))
        .where(F.abs(F.col("z")) > threshold)
        .select("id", F.col("grp").alias("grp"), "cents", "z")
    )


def gini_concentration(
    df: DataFrame,
    value_column: str,
    *,
    group_column: str | None = None,
) -> DataFrame:
    """Exact Gini coefficient of a non-negative value column — the
    corpus-concentration diagnostic ("is my training mix dominated by
    a few giant documents/sources?").

    Uses the sorted-rank identity  G = (2·Σ i·x_i − (n+1)·Σ x_i)
    / (n·Σ x_i)  over ascending-sorted values (ties broken stably by
    value order only — the identity is tie-insensitive). Everything up
    to the final division is exact integer arithmetic, so the result
    is one IEEE division — engine-reproducible.

    Plan: one rank window per group (ascending sort bounded per
    group), one aggregate. With no ``group_column`` a single global
    group is used — the sort is then a single total order, which is
    the honest cost of an exact Gini; use groups (e.g. source) at
    100 TB, or sample first.

    Output: (group, n bigint, total bigint, gini double).
    """
    g = F.lit("all").alias("grp") if group_column is None else F.col(group_column).alias("grp")
    vals = df.select(g, F.col(value_column).cast("long").alias("x")).where(
        F.col("x").isNotNull() & (F.col("x") >= 0)
    )
    w = Window.partitionBy("grp").orderBy(F.asc("x"))
    ranked = vals.withColumn("i", F.row_number().over(w))
    # Σ i·x is summed in DECIMAL(38,0): with i up to n and int64 x the
    # long sum would silently wrap around n·avg_x ≈ 2^63 (a few billion
    # rows of kilobyte docs) — decimal keeps the identity exact to
    # 10^38, mirroring DuckDB's HUGEINT aggregate
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("total"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("ix"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("ix")
        - (F.col("n") + 1).cast("decimal(19,0)")
        * F.col("total").cast("decimal(19,0)")
    )
    den = F.col("n").cast("decimal(19,0)") * F.col("total").cast("decimal(19,0)")
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
        F.when(
            F.col("total") > 0, num.cast("double") / den.cast("double")
        ).alias("gini"),
    )


def histogram_quantiles(
    df: DataFrame,
    value_column: str,
    *,
    group_column: str | None = None,
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    bins: int = 1000,
) -> DataFrame:
    """Approximate quantiles via fixed integer binning — the
    100 TB percentile: an exact quantile needs a per-group sort;
    Spark's ``percentile_approx`` (KLL/GK) is engine-private state.
    This histogram is PORTABLE: bin = ((x - min) * bins) DIV span is
    pure integer math, the histogram merges by addition (mergeable
    across partitions/batches — same property as the sketches), and
    the reported value is the bin's lower bound — deterministic on any
    engine, error bounded by span/bins.

    Two passes over the values (min/max then counts), both map-side
    combinable; the per-group cumsum window runs over at most ``bins``
    rows. Quantile rule: smallest bin whose cumulative count reaches
    ceil(q * n).

    Output: (grp, q double, n bigint, approx_value bigint).
    Integer-valued columns only (cast upstream for decimals — scale to
    cents first, the repo-wide convention).
    """
    if not quantiles or any(not 0 < q <= 1 for q in quantiles):
        raise ValueError(f"quantiles must be in (0, 1]: {quantiles}")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    g = F.lit("all").alias("grp") if group_column is None else F.col(group_column).alias("grp")
    vals = df.select(g, F.col(value_column).cast("long").alias("x")).where(
        F.col("x").isNotNull()
    )
    bounds = vals.groupBy("grp").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"), F.count(F.lit(1)).alias("n")
    )
    binned = (
        vals.join(bounds, "grp")
        .select(
            "grp",
            "n",
            # bin math in DECIMAL(38,0): (x - lo) * bins overflows
            # BIGINT once the group's value span nears 2^63/bins —
            # decimal keeps the product exact for any long-valued span
            # (span < 2^64 and bins ≤ ~1e6 stay well inside 38 digits)
            F.expr(
                f"CAST(((CAST(x AS DECIMAL(38,0)) - lo) * {bins})"
                " DIV (CAST(hi AS DECIMAL(38,0)) - lo + 1) AS INT)"
            ).alias("b"),
            "lo",
            "hi",
        )
        .groupBy("grp", "n", "b", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy(F.asc("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("c").over(w))
    qs = F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q")
    expanded = cum.select("grp", "n", "b", "lo", "hi", "cum", qs)
    # smallest bin with cum >= ceil(q * n): keep qualifying bins, take min
    hit = expanded.where(
        F.col("cum") >= F.ceil(F.col("q") * F.col("n")).cast("long")
    )
    return (
        hit.groupBy("grp", "q")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min(
                F.col("lo")
                + F.expr(
                    f"CAST(CAST(b AS DECIMAL(38,0)) * (CAST(hi AS DECIMAL(38,0)) - lo + 1)"
                    f" DIV {bins} AS BIGINT)"
                )
            ).alias("approx_value"),
        )
        .select("grp", "q", "n", F.col("approx_value").cast("long").alias("approx_value"))
    )


def ols_by_group(
    df: DataFrame,
    x_column: str,
    y_column: str,
    *,
    group_column: str | None = None,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS) — the
    distributed trend analysis ("is quality drifting with length /
    time / crawl date?") without any iterative fitting.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n. The five sufficient statistics are one
    map-side-combinable aggregate; inputs are cast to long (integerize
    upstream — cents/micros convention) and the moment sums accumulate
    in DECIMAL(38,0) so billion-row groups cannot wrap int64. The two
    final divisions are the only floating-point ops — with identical
    exact operands on any engine, the results are bit-identical.

    Degenerate groups (n < 2 or zero x-variance) return NULL slope and
    intercept rather than a fake zero.

    Output: (grp, n bigint, slope double, intercept double).
    """
    g = F.lit("all").alias("grp") if group_column is None else F.col(group_column).alias("grp")
    d = F.col(x_column).cast("long").isNotNull() & F.col(y_column).cast("long").isNotNull()
    vals = df.where(d).select(
        g,
        F.col(x_column).cast("long").cast("decimal(19,0)").alias("x"),
        F.col(y_column).cast("long").cast("decimal(19,0)").alias("y"),
    )
    agg = vals.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
    )
    nn = F.col("n").cast("decimal(19,0)")
    den = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    num = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(
        (F.col("n") >= 2) & (den.cast("double") != 0.0),
        num.cast("double") / den.cast("double"),
    )
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        slope.alias("slope"),
        F.when(
            slope.isNotNull(),
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
        ).alias("intercept"),
    )


def corr_by_group(
    df: DataFrame,
    x_column: str,
    y_column: str,
    *,
    group_column: str | None = None,
) -> DataFrame:
    """Per-group Pearson correlation over the same exact DECIMAL(38,0)
    sufficient statistics as :func:`ols_by_group`:

        r = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²))

    IEEE-754 requires sqrt to be correctly rounded, so with identical
    exact integer operands on every engine the result is bit-identical
    — no libm drift (unlike ln/exp, which this repo avoids). Built-in
    ``F.corr`` computes a running-moment float estimate whose value
    depends on accumulation order; this one is deterministic.

    Degenerate groups (n < 2 or zero variance on either side) return
    NULL. Output: (grp, n bigint, r double).
    """
    g = F.lit("all").alias("grp") if group_column is None else F.col(group_column).alias("grp")
    d = F.col(x_column).cast("long").isNotNull() & F.col(y_column).cast("long").isNotNull()
    vals = df.where(d).select(
        g,
        F.col(x_column).cast("long").cast("decimal(19,0)").alias("x"),
        F.col(y_column).cast("long").cast("decimal(19,0)").alias("y"),
    )
    agg = vals.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nn = F.col("n").cast("decimal(19,0)")
    vx = (nn * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nn * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (nn * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.when(
            (F.col("n") >= 2) & (vx > 0.0) & (vy > 0.0),
            cov / (F.sqrt(vx) * F.sqrt(vy)),
        ).alias("r"),
    )


def mad_outliers(
    df: DataFrame,
    value_column: str,
    group_column: str,
    id_column: str,
    *,
    k: tuple[int, int] = (7, 2),
) -> DataFrame:
    """Rows beyond ``k`` median-absolute-deviations from their group
    median — the ROBUST complement to :func:`zscore_outliers`: one
    colossal value inflates a z-score denominator until nothing else
    looks anomalous, while the median/MAD pair ignores up to half the
    group being garbage (breakdown point 50% vs the z-score's 0%).

    Exact-integer throughout, via the 2x-median trick: for sorted
    cents the doubled median med2 = v[(n+1) div 2] + v[(n+2) div 2] is
    an INTEGER for every n (odd: 2x the middle; even: the sum of the
    two middles) — no interpolation doubles to drift cross-engine.
    Doubled deviations dev2 = |2*cents - med2| are integers; their
    doubled median mad_med2 likewise. The flag rule

        |x - med| > (k_num/k_den) * MAD

    multiplies out to the pure-integer comparison

        2 * k_den * dev2 > k_num * mad_med2        (MAD = mad_med2/4)

    ``k`` is that rational: (7, 2) is the conventional 3.5.

    Degenerate groups (mad_med2 = 0: more than half the values equal
    the median) flag EVERY value off the median, per the standard MAD
    rule — filter on mad_med2 > 0 downstream if that is too eager.
    Groups need n >= 2 (a singleton is its own median; never flagged);
    rows with a null value are dropped first, so n counts values.

    Scale note (r17 optimization round, guide §1.2): both doubled
    medians come from ONE ``percentile(col, 0.5)`` aggregate per pass
    — ``2·percentile`` is EXACTLY the doubled median for every n (odd:
    interpolation lands on the middle value; even: (lo+hi)/2, doubled
    back to the integer lo+hi; the interpolation arithmetic is exact
    in IEEE doubles for cent values < 2^51, and cents are
    round(value·100) of prices). This replaces the previous TWO
    window row_number sorts + rank-probe aggregates with two plain
    hash-partitioned aggregations — same cost class as
    `winsorize(exact=True)` (percentile buffers/sorts each group in
    aggregation state); at 100 TB swap to percentile_approx like
    winsorize's documented approx path if group sizes are extreme.
    Value-identity is pinned by tests/test_pipeline_fns.py's
    median-math and brute-force-parity tests.

    Output: (id, grp, cents, dev2, med2, mad_med2) for flagged rows.
    """
    k_num, k_den = k
    if k_num < 1 or k_den < 1:
        raise ValueError("k must be a positive rational (num, den)")

    cents = F.round(F.col(value_column) * 100).cast("long")
    # percentile() skips nulls, so n must too: a null value is neither
    # counted toward a group's size nor a candidate outlier
    scoped = df.select(
        F.col(id_column).alias("id"),
        F.col(group_column).alias("grp"),
        cents.alias("cents"),
    ).where(F.col("cents").isNotNull())
    stats = scoped.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.expr("percentile(cents, 0.5D)") * 2).cast("long").alias("med2"),
    )
    dev = (
        scoped.join(F.broadcast(stats), "grp")
        .where(F.col("n") >= 2)
        .withColumn("dev2", F.abs(F.lit(2) * F.col("cents") - F.col("med2")))
    )
    mad2 = dev.groupBy("grp").agg(
        (F.expr("percentile(dev2, 0.5D)") * 2).cast("long").alias("mad_med2")
    )
    return (
        dev.join(F.broadcast(mad2), "grp")
        .where(
            F.lit(2 * k_den) * F.col("dev2") > F.lit(k_num) * F.col("mad_med2")
        )
        .select("id", "grp", "cents", "dev2", "med2", "mad_med2")
    )


def _snapshot_bin_counts(
    old: DataFrame,
    new: DataFrame,
    value_column: str,
    *,
    bins: int,
    range_on: str,
):
    """Shared equi-width cent binning for the two-snapshot drift pair
    (:func:`histogram_drift` L1 / :func:`psi_drift` PSI). Returns
    ``(per_bin, counts)``: per_bin = one row per OBSERVED bin with
    zero-coalesced (c_old, c_new); counts = one row (n_old, n_new).
    Binning semantics (cents, ceil width, floor division, frozen-range
    negative bins) are documented on :func:`histogram_drift`."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if range_on not in ("union", "old"):
        raise ValueError("range_on must be 'union' or 'old'")

    def cents(df: DataFrame) -> DataFrame:
        return df.select(
            F.round(F.col(value_column) * 100).cast("long").alias("c")
        ).where(F.col("c").isNotNull())

    o, n = cents(old), cents(new)
    u = o.unionByName(n) if range_on == "union" else o
    rng = u.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi")
    ).select(
        "lo",
        # ceil width so (hi - lo) div width <= bins - 1 always
        F.expr(f"CAST((hi - lo + {bins}) div {bins} AS BIGINT)").alias("w"),
    )

    def binned(df: DataFrame, tag: str) -> DataFrame:
        # Floor-division binning: Spark's `div` truncates toward zero,
        # which (under range_on="old") would merge below-range values
        # in (lo - w, lo) into bin 0 and shift deeper ones a bin high.
        # Floor gives each below-range width its own negative bin and
        # matches DuckDB's `//` (the oracle's operator, which floors).
        return (
            df.crossJoin(F.broadcast(rng))
            .select(
                F.expr(
                    "CAST(CASE WHEN c >= lo THEN (c - lo) div w "
                    "ELSE -(((lo - c) + w - 1) div w) END AS BIGINT)"
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias(f"c_{tag}"))
        )

    bo, bn = binned(o, "old"), binned(n, "new")
    counts = o.agg(F.count(F.lit(1)).cast("long").alias("n_old")).crossJoin(
        n.agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    per_bin = bo.join(bn, "bin", "full_outer").select(
        F.coalesce(F.col("c_old"), F.lit(0)).alias("c_old"),
        F.coalesce(F.col("c_new"), F.lit(0)).alias("c_new"),
    )
    return per_bin, counts


def histogram_drift(
    old: DataFrame,
    new: DataFrame,
    value_column: str,
    *,
    bins: int = 20,
    range_on: str = "union",
) -> DataFrame:
    """Distribution drift between two snapshots of a numeric column:
    total-variation distance between their equi-width histograms —
    the train/serve (or batch-over-batch) skew check a pipeline runs
    before concluding "same data, safe to reuse the mixture / the
    thresholds". L1 on proportions stays exact with no logarithm at
    all; the industry PSI score is :func:`psi_drift` (same bins, same
    exactness via the milli-log2 surrogate).

    Integer-exact: values are binned in cents over the COMBINED
    [min, max] range (bin width ceil(range/bins), so every value maps
    in-range); per-bin proportions are compared over the common
    denominator n_old * n_new:

        l1_scaled   = sum_b | c_old_b * n_new - c_new_b * n_old |
        drift_milli = (1000 * l1_scaled) div (n_old * n_new)

    drift_milli is 1000 * the L1 distance in [0, 2000]: 0 = identical
    binned distributions, 2000 = disjoint. Total variation distance =
    half that. Overflow: c * n <= n_old * n_new must stay < 2^63 —
    fine below ~3e9 rows per side; sketch/sample first beyond that.

    Plan: two single-pass bin-count aggregates (map-side combinable)
    + a 1-row min/max broadcast; the bin join is |bins| rows. NULLs
    are excluded (they are a missing-RATE question, not a shape one).

    ``range_on``: "union" (default) bins over the combined range —
    right for a symmetric two-snapshot compare; "old" freezes bins on
    the reference alone — the streaming-monitor convention
    (streaming/drift.py), where the reference is fixed before the new
    data exists. New values outside a frozen range land in their own
    out-of-range bins (floor-division semantics: above-range extends
    past bins-1, each below-range width gets its own negative bin,
    never merged with bin 0) and count toward L1 like any other mass
    difference.

    Output: one row (n_old, n_new, n_bins, l1_scaled, drift_milli).
    """
    per_bin, counts = _snapshot_bin_counts(
        old, new, value_column, bins=bins, range_on=range_on
    )
    l1 = (
        per_bin.crossJoin(F.broadcast(counts))
        .select(
            F.abs(
                F.col("c_old") * F.col("n_new") - F.col("c_new") * F.col("n_old")
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("l1_scaled"))
    )
    return (
        counts.crossJoin(l1)
        .select(
            "n_old",
            "n_new",
            F.lit(bins).cast("long").alias("n_bins"),
            "l1_scaled",
            F.expr(
                "CAST(CASE WHEN n_old = 0 OR n_new = 0 THEN NULL "
                "ELSE (1000 * l1_scaled) div (n_old * n_new) END AS BIGINT)"
            ).alias("drift_milli"),
        )
    )


def _ml_sql(x: str) -> str:
    """Spark-SQL exact piecewise-linear milli-log2 of a positive
    BIGINT expression — operators/unigram.py::_ml verbatim
    (e = bit_length − 1 via binary-string length, linear interpolation
    within the octave), the no-transcendentals discipline. The DuckDB
    oracle twin is __spark_entry__._unigram_ml."""
    e = f"(length(conv(CAST(({x}) AS STRING), 10, 2)) - 1)"
    p = f"shiftleft(CAST(1 AS BIGINT), {e})"
    return f"(1000 * {e} + ((({x}) - {p}) * 1000) div {p})"


#: psi_log2 action thresholds: the industry 0.10 / 0.25 (natural-log
#: PSI) rescaled to log2 nano units — round(0.10/ln2 * 1e9) and
#: round(0.25/ln2 * 1e9). LITERALS so both engines compare the same
#: integers; no libm at query time.
PSI_STABLE_NANO = 144_269_504
PSI_MODERATE_NANO = 360_673_760


def _quantile_bin_counts(
    old: DataFrame,
    new: DataFrame,
    value_column: str,
    *,
    bins: int,
):
    """Equal-mass REFERENCE bins for PSI (``binning='quantile'``):
    edge_j is the EXACT ceil(j·n/bins)-th order statistic of the OLD
    snapshot's cents, j = 1..bins-1 (smallest cent whose cumulative
    count reaches the threshold) — industry-standard PSI bins
    equalize REFERENCE mass, which equi-width bins do badly on heavy
    tails (one outlier stretches the range until the whole body sits
    in bin 0 and a real body shift scores ~zero; the divergence test
    pins it). Exactness matters for the same reason: a fine-HISTOGRAM
    edge rule inherits the heavy-tail collapse once the span outruns
    its resolution, while order statistics are span-free.

    The order statistics come from the DISTINCT-cent table (groupBy
    cent → count → cumulative sum), not a per-row global sort: the
    cumsum spine is |distinct reference cents| rows — the
    mad_outliers/heavy-hitter distinct-value spine class. Monitored
    metrics are cent-quantized already; if a 100-TB reference somehow
    carries ~n distinct cents, pre-round upstream — stated, not
    hidden. End bins are unbounded, so out-of-range new mass lands in
    bin 0 / bins-1 — no frozen-range negative bins, no dropped mass.
    Assignment is searchsorted against the ≤(bins−1)-element edge
    array, built IN-PLAN (collect_list to a 1-row broadcast — zero
    driver collects); ties at an edge go to the upper bin (c >= edge
    counts). Duplicate edges (heavy ties) skip bin indices; the
    observed-bin universe + Laplace handle the resulting empties.

    Returns (per_bin, counts) in :func:`_psi_finish`'s shape.
    """

    def cents(df: DataFrame) -> DataFrame:
        return df.select(
            F.round(F.col(value_column) * 100).cast("long").alias("c")
        ).where(F.col("c").isNotNull())

    o, n = cents(old), cents(new)
    vc = o.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = Window.orderBy(F.asc("c")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.withColumn("cum", F.sum("cnt").over(w))
    nref = o.agg(F.count(F.lit(1)).cast("long").alias("n_ref"))
    js = F.explode(
        F.array(*[F.lit(int(j)).cast("long") for j in range(1, bins)])
    ).alias("j")
    hit = cum.crossJoin(F.broadcast(nref)).select("c", "cum", js).where(
        F.col("cum")
        >= F.expr(f"CAST((j * n_ref + {bins} - 1) div {bins} AS BIGINT)")
    )
    edges = hit.groupBy("j").agg(F.min("c").alias("edge"))
    earr = edges.agg(F.sort_array(F.collect_list("edge")).alias("edges"))

    def binned(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(earr))
            .select(
                F.aggregate(
                    "edges",
                    F.lit(0).cast("long"),
                    lambda acc, e: acc
                    + (F.col("c") >= e).cast("long"),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias(f"c_{tag}"))
        )

    bo, bn = binned(o, "old"), binned(n, "new")
    counts = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_old")
    ).crossJoin(n.agg(F.count(F.lit(1)).cast("long").alias("n_new")))
    per_bin = bo.join(bn, "bin", "full_outer").select(
        F.coalesce(F.col("c_old"), F.lit(0)).alias("c_old"),
        F.coalesce(F.col("c_new"), F.lit(0)).alias("c_new"),
    )
    return per_bin, counts


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_column: str,
    *,
    bins: int = 20,
    range_on: str = "union",
    binning: str = "width",
) -> DataFrame:
    """Population Stability Index between two snapshots — the industry
    drift score (credit-model monitoring: Σ (p_b − q_b)·log(p_b/q_b)),
    which :func:`histogram_drift` historically declared out of reach
    ("the PSI variant needs ln() — cross-libm flake"). Closed here
    with the unigram milli-log2 discipline: log2 via the exact
    piecewise-linear integer surrogate (:func:`_ml_sql`), so the whole
    score is BIGINT arithmetic both engines replay bit-for-bit.

    Conventions, all stated:

    - **base 2**: psi_log2 = PSI/ln 2. The familiar 0.10 / 0.25
      action thresholds become the integer nano literals
      PSI_STABLE_NANO / PSI_MODERATE_NANO; ``band`` reports
      stable / moderate / major from them.
    - **Laplace +1 per observed bin on BOTH sides** (a_b = c_b + 1
      over N + B_obs): PSI is undefined on empty bins; +1 is the
      deterministic unigram ``_costs`` rule. The bin universe is the
      bins observed in EITHER snapshot (the full-outer join) — bins
      observed by neither carry no evidence and are not invented.
    - **surrogate, not approximation hazard**: ml deviates from true
      1000·log2 by < 0.09% relative (within-octave linear
      interpolation), and shares are floored micro integers — tiny
      per-term signed error is possible, but BOTH engines compute the
      identical integers, so oracle parity is exact even where the
      surrogate is not (the bm25 rational-idf precedent).

    Arithmetic: p_micro = 10^6·a_b div Na, dlog_milli = ml(a_b) −
    ml(b_b) − ml(Na) + ml(Nb), psi_nano = Σ (p_micro − q_micro) ·
    dlog_milli. Envelope: |Δp| ≤ 10^6, |dlog| < 1.3e5, so even 10^6
    observed bins stay under 2^63.

    Same binning, plan shape, and NULL semantics as
    :func:`histogram_drift` (shared :func:`_snapshot_bin_counts`).

    ``binning='quantile'`` switches the bin RULE (everything after the
    per-bin counts — Laplace, surrogate, thresholds — is byte-shared):
    equal-mass bins of the REFERENCE (old) snapshot instead of
    equi-width bins, the convention industry PSI actually uses because
    equi-width starves all but one bin on heavy-tailed values (see
    :func:`_quantile_bin_counts` for the exact edge rule). Under
    quantile binning the reference defines the edges, so ``range_on``
    does not apply (ValueError if set to anything but its default) and
    out-of-range new mass lands in the unbounded end bins.

    Output: one row (n_old, n_new, n_bins_observed, psi_nano bigint,
    psi_log2 double — one IEEE division, band string).
    """
    if binning == "width":
        per_bin, counts = _snapshot_bin_counts(
            old, new, value_column, bins=bins, range_on=range_on
        )
    elif binning == "quantile":
        if range_on != "union":
            raise ValueError(
                "range_on does not apply under binning='quantile' "
                "(edges always come from the reference snapshot)"
            )
        if bins < 2:
            raise ValueError("binning='quantile' needs bins >= 2")
        per_bin, counts = _quantile_bin_counts(
            old, new, value_column, bins=bins
        )
    else:
        raise ValueError("binning must be 'width' or 'quantile'")
    return _psi_finish(per_bin, counts)


def _psi_finish(per_bin: DataFrame, counts: DataFrame) -> DataFrame:
    """Finish the PSI score from zero-coalesced per-bin counts — the
    mergeable-state boundary shared by :func:`psi_drift` (two-snapshot
    batch) and streaming/drift.py's ``psi_from_counts`` (frozen-bin
    running counts): ``per_bin`` = one row per OBSERVED bin with
    (c_old, c_new); ``counts`` = one row (n_old, n_new). All
    arithmetic documented on :func:`psi_drift`."""
    nb = per_bin.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins_observed")
    )
    a, b = "(c_old + 1)", "(c_new + 1)"
    na, nbb = "(n_old + n_bins_observed)", "(n_new + n_bins_observed)"
    terms = (
        per_bin.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(nb))
        .select(
            F.expr(
                f"CAST(((1000000 * {a}) div {na}"
                f" - (1000000 * {b}) div {nbb})"
                f" * ({_ml_sql(a)} - {_ml_sql(b)}"
                f" - {_ml_sql(na)} + {_ml_sql(nbb)}) AS BIGINT)"
            ).alias("term")
        )
        .agg(F.sum("term").cast("long").alias("psi_nano"))
    )
    return (
        counts.crossJoin(nb)
        .crossJoin(terms)
        .select(
            "n_old",
            "n_new",
            "n_bins_observed",
            F.coalesce(F.col("psi_nano"), F.lit(0))
            .cast("long")
            .alias("psi_nano"),
        )
        .select(
            "n_old",
            "n_new",
            "n_bins_observed",
            F.expr(
                "CASE WHEN n_bins_observed = 0 THEN NULL"
                " ELSE psi_nano END"
            ).alias("psi_nano"),
            F.expr(
                "CASE WHEN n_bins_observed = 0 THEN NULL"
                " ELSE CAST(psi_nano AS DOUBLE) / 1e9 END"
            ).alias("psi_log2"),
            F.expr(
                "CASE WHEN n_bins_observed = 0 THEN NULL"
                f" WHEN psi_nano < {PSI_STABLE_NANO} THEN 'stable'"
                f" WHEN psi_nano < {PSI_MODERATE_NANO} THEN 'moderate'"
                " ELSE 'major' END"
            ).alias("band"),
        )
    )


def psi_drift_grouped(
    old: DataFrame,
    new: DataFrame,
    group_column: str,
    value_column: str,
    *,
    bins: int = 20,
    range_on: str = "union",
    binning: str = "width",
) -> DataFrame:
    """Per-group :func:`psi_drift` in ONE pass — the per-source /
    per-language drift monitor a curation pipeline actually wants
    ("which source's price/length/score distribution moved?") without
    G separate jobs. Same exact-integer arithmetic (milli-log2
    surrogate, Laplace +1 over observed bins, nano band thresholds)
    as the global operator; the only structural change is the
    qdigest_by_group discipline: bin ranges live in a broadcast
    (group, lo, w) meta table computed by one aggregate, every
    count/join keys on (group, bin), and nothing collects.

    Binning is per group (each group gets its own [min, max] and
    width — cross-group comparability of the SCORE is exactly PSI's
    job, not shared bins). Under ``range_on='old'`` a group present
    only in ``new`` has no reference bins: it surfaces with
    n_bins_observed = 0 and NULL psi/band (the global operator's
    empty-input convention), never dropped. Rows with a NULL group
    key are EXCLUDED like NULL values (a missing-source row is a
    missing-RATE question, not a shape one — the histogram_drift NULL
    rule applied to the key); map NULLs to a sentinel upstream to
    monitor them as a group.

    Plan: two map-side-combinable (group, bin) aggregates + the tiny
    meta broadcast + one full-outer bin join + one (group) aggregate —
    shuffle keys are (group, bin), so skew follows the data's group
    sizes, not the group count.

    ``binning='quantile'`` applies :func:`_quantile_bin_counts`'s
    equal-mass-reference rule PER GROUP (each group's edges are the
    quantiles of ITS old values — same fine-histogram integer edge
    rule, windows PARTITION BY group so the cumsum spine stays ≤ F
    rows per group). ``range_on`` does not apply (ValueError if
    non-default); a group present only in ``new`` has no reference
    edges and surfaces with n_bins_observed = 0 and NULL psi/band —
    the same convention range_on='old' states, never dropped.

    Output: (group, n_old, n_new, n_bins_observed, psi_nano,
    psi_log2, band) — one row per group observed in either snapshot.
    """
    if binning not in ("width", "quantile"):
        raise ValueError("binning must be 'width' or 'quantile'")
    if binning == "quantile":
        if range_on != "union":
            raise ValueError(
                "range_on does not apply under binning='quantile' "
                "(edges always come from the reference snapshot)"
            )
        if bins < 2:
            raise ValueError("binning='quantile' needs bins >= 2")
    else:
        if bins < 1:
            raise ValueError("bins must be >= 1")
        if range_on not in ("union", "old"):
            raise ValueError("range_on must be 'union' or 'old'")

    def cents(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(group_column).alias("grp"),
            F.round(F.col(value_column) * 100).cast("long").alias("c"),
        ).where(F.col("c").isNotNull() & F.col("grp").isNotNull())

    o, n = cents(old), cents(new)
    if binning == "width":
        u = o.unionByName(n) if range_on == "union" else o
        rng = u.groupBy("grp").agg(
            F.min("c").alias("lo"),
            F.expr(
                f"CAST((max(c) - min(c) + {bins}) div {bins} AS BIGINT)"
            ).alias("w"),
        )

        def binned(df: DataFrame, tag: str) -> DataFrame:
            # floor-division binning — identical rationale to
            # _snapshot_bin_counts (negative own-bins below a frozen
            # range; DuckDB's // floors, Spark's div truncates)
            return (
                df.join(F.broadcast(rng), ["grp"])
                .select(
                    "grp",
                    F.expr(
                        "CAST(CASE WHEN c >= lo THEN (c - lo) div w "
                        "ELSE -(((lo - c) + w - 1) div w) END AS BIGINT)"
                    ).alias("bin"),
                )
                .groupBy("grp", "bin")
                .agg(F.count(F.lit(1)).cast("long").alias(f"c_{tag}"))
            )

    else:
        # per-group exact order-statistic edges over each group's
        # distinct-cent table (see _quantile_bin_counts; the cumsum
        # window partitions by group, so the spine is per-group
        # distinct cents)
        vc = o.groupBy("grp", "c").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        wq = (
            Window.partitionBy("grp")
            .orderBy(F.asc("c"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = vc.withColumn("cum", F.sum("cnt").over(wq))
        nref = o.groupBy("grp").agg(
            F.count(F.lit(1)).cast("long").alias("n_ref")
        )
        js = F.explode(
            F.array(*[F.lit(int(j)).cast("long") for j in range(1, bins)])
        ).alias("j")
        hit = cum.join(F.broadcast(nref), ["grp"]).select(
            "grp", "c", "cum", js
        ).where(
            F.col("cum")
            >= F.expr(
                f"CAST((j * n_ref + {bins} - 1) div {bins} AS BIGINT)"
            )
        )
        edges = hit.groupBy("grp", "j").agg(F.min("c").alias("edge"))
        earr = edges.groupBy("grp").agg(
            F.sort_array(F.collect_list("edge")).alias("edges")
        )

        def binned(df: DataFrame, tag: str) -> DataFrame:
            # inner join: groups with no reference edges (new-only)
            # drop HERE and surface through the counts full-outer
            # with n_bins_observed = 0 — the stated NULL convention
            return (
                df.join(F.broadcast(earr), ["grp"])
                .select(
                    "grp",
                    F.aggregate(
                        "edges",
                        F.lit(0).cast("long"),
                        lambda acc, e: acc
                        + (F.col("c") >= e).cast("long"),
                    ).alias("bin"),
                )
                .groupBy("grp", "bin")
                .agg(F.count(F.lit(1)).cast("long").alias(f"c_{tag}"))
            )

    bo, bn = binned(o, "old"), binned(n, "new")
    per_bin = bo.join(bn, ["grp", "bin"], "full_outer").select(
        "grp",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    co = o.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_old")
    )
    cn = n.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    counts = co.join(cn, ["grp"], "full_outer").select(
        "grp",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    nb = per_bin.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins_observed")
    )
    meta = counts.join(nb, ["grp"], "left").select(
        "grp",
        "n_old",
        "n_new",
        F.coalesce("n_bins_observed", F.lit(0))
        .cast("long")
        .alias("n_bins_observed"),
    )
    a, b = "(c_old + 1)", "(c_new + 1)"
    na, nbb = "(n_old + n_bins_observed)", "(n_new + n_bins_observed)"
    terms = (
        per_bin.join(F.broadcast(meta), ["grp"])
        .select(
            "grp",
            F.expr(
                f"CAST(((1000000 * {a}) div {na}"
                f" - (1000000 * {b}) div {nbb})"
                f" * ({_ml_sql(a)} - {_ml_sql(b)}"
                f" - {_ml_sql(na)} + {_ml_sql(nbb)}) AS BIGINT)"
            ).alias("term"),
        )
        .groupBy("grp")
        .agg(F.sum("term").cast("long").alias("psi_nano"))
    )
    return (
        meta.join(terms, ["grp"], "left")
        .select(
            F.col("grp").alias(group_column),
            "n_old",
            "n_new",
            "n_bins_observed",
            F.expr(
                "CASE WHEN n_bins_observed = 0 THEN NULL"
                " ELSE coalesce(psi_nano, CAST(0 AS BIGINT)) END"
            ).alias("psi_nano"),
            F.expr(
                "CASE WHEN n_bins_observed = 0 THEN NULL"
                " ELSE CAST(coalesce(psi_nano, CAST(0 AS BIGINT))"
                " AS DOUBLE) / 1e9 END"
            ).alias("psi_log2"),
            F.expr(
                "CASE WHEN n_bins_observed = 0 THEN NULL"
                " WHEN coalesce(psi_nano, CAST(0 AS BIGINT))"
                f" < {PSI_STABLE_NANO} THEN 'stable'"
                " WHEN coalesce(psi_nano, CAST(0 AS BIGINT))"
                f" < {PSI_MODERATE_NANO} THEN 'moderate'"
                " ELSE 'major' END"
            ).alias("band"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_column: str,
    value_column: str,
    id_column: str,
) -> DataFrame:
    """Cross-group quantile normalization: replace each row's value
    with the GLOBAL value at the same relative rank, so every group's
    distribution maps onto the pooled one. The curation use: quality
    scores from different sources (or different judge models) are not
    comparable — source A's 0.7 may mean source B's 0.9 — but a
    single keep-threshold is what the pipeline wants. Normalizing
    each source onto the pooled distribution makes one threshold
    mean the same thing everywhere (the microarray-analysis trick,
    Bolstad 2003, applied to data curation).

    Exact-integer semantics: rows rank within their group by
    (value, id) — deterministic, tie-broken — and row rn of a
    ``n_g``-row group maps to pooled rank ceil(rn * N / n_g)
    (= (rn*N + n_g - 1) div n_g), i.e. the right-continuous empirical
    quantile. The last row of every group maps to the pooled max; no
    interpolation, no floats. Values are cast to long (integerize
    upstream — the repo's cents/milli convention).

    Plan: the pooled rank is `with_row_id` (range partition +
    per-partition row_number + offset aggregate — NEVER a
    single-partition global window); the group rank is one keyed
    window; the mapping is an equi-join on the computed pooled rank.
    Two shuffles + the range partition, all on bounded keys.

    Output: (id, group, value, norm_value) — norm_value is the
    pooled-distribution value at the row's relative rank.
    """
    from sutro_spark.sources.ingest import ROW_ID, with_row_id

    slim = df.select(
        F.col(id_column).cast("long").alias("id"),
        F.col(group_column).alias("grp"),
        F.col(value_column).cast("long").alias("v"),
    ).where(F.col("v").isNotNull())
    pooled = with_row_id(
        slim.select("v", "id"), order_by=["v", "id"]
    ).select((F.col(ROW_ID) + 1).alias("gr"), F.col("v").alias("norm_value"))
    n_total = pooled.agg(F.count(F.lit(1)).cast("long").alias("N"))
    w = Window.partitionBy("grp").orderBy("v", "id")
    ranked = (
        slim.withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn(
            "ng", F.count(F.lit(1)).over(Window.partitionBy("grp")).cast("long")
        )
        .crossJoin(F.broadcast(n_total))
        .withColumn("gr", F.expr("(rn * N + ng - 1) div ng"))
    )
    return ranked.join(pooled, "gr").select(
        F.col("id").alias(id_column),
        F.col("grp").alias(group_column),
        F.col("v").alias(value_column),
        "norm_value",
    )


# log10(1 + 1/d) in milli units for d = 1..9 — FIXED literals, so no
# engine ever evaluates a logarithm (the repo's no-libm rule)
_BENFORD_MILLI = (301, 176, 125, 97, 79, 67, 58, 51, 46)


def benford_profile(
    df: DataFrame,
    value_column: str,
) -> DataFrame:
    """First-significant-digit profile vs Benford's law — the classic
    fabricated-data / broken-ETL detector: naturally occurring
    multi-scale numeric columns (prices, populations, file sizes)
    follow P(d) = log10(1 + 1/d); synthetic, truncated, or
    unit-mangled data does not. Run it on a new source's numeric
    columns before trusting them.

    Exact arithmetic: values go to cents (the repo convention), the
    first digit is the leading character of the BIGINT's decimal
    rendering (identical in every engine; zeros and NULLs excluded —
    they have no first significant digit), observed shares are
    floor-div milli integers, and the Benford expectations are FIXED
    milli literals — no engine evaluates a log. dev_milli is the
    per-digit |observed - expected|; sum it (<= ~2000) for an L1
    statistic, or eyeball the worst digit.

    Plan: one map-side-combinable 9-group aggregate over the scan;
    the digit spine is a 9-row literal so missing digits report 0
    rather than vanishing.

    Output: 9 rows (digit, n, obs_milli, exp_milli, dev_milli).
    """
    cents = F.round(F.abs(F.col(value_column)) * 100).cast("long")
    digits = (
        df.select(cents.alias("c"))
        .where(F.col("c").isNotNull() & (F.col("c") > 0))
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d + 1, e) for d, e in enumerate(_BENFORD_MILLI)],
        "digit long, exp_milli long",
    )
    total = digits.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("total")
    )
    return (
        spine.join(digits, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.expr(
                "CASE WHEN total > 0 THEN"
                " CAST((1000 * coalesce(n, 0)) div total AS BIGINT)"
                " ELSE 0 END"
            ).alias("obs_milli"),
            "exp_milli",
        )
        .withColumn(
            "dev_milli", F.abs(F.col("obs_milli") - F.col("exp_milli"))
        )
        .orderBy("digit")
    )

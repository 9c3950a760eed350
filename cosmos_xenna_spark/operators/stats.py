"""Distribution / association statistics for corpus profiling.

Every statistic here is derived from decimal-exact sums (the same
discipline as ``functions.dstddev_samp``): moments are accumulated in
DECIMAL (order-independent, exact), and only the final handful of
scalar ops per group run in double — so Spark and a SQL oracle agree
bit-for-bit, and the result is independent of partitioning.

Scale notes (100 TB):
- ``histogram``: one scan, map-side partial counts, ``nbins`` output
  rows.  The bucket id is a row-local expression (pushdown-friendly).
- ``grouped_corr``: one scan, one shuffle on the group key; all five
  moment sums ride the same aggregation (no second pass).
- ``outlier_zscore``: two-job shape — a tiny per-group moment table
  (one shuffle) broadcast back onto the fact rows (no second
  shuffle).  The moment table has one row per group; the fact side
  never moves.

Reference parity: the reference has no statistics operators at all
(its pipelines compute stats inside user-supplied Stage code, e.g.
``pipelines/v1/interfaces.py`` leaves all per-batch math to
``process_data``); these are engine-level additions a curation
pipeline needs for corpus QA.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint

# ---------------------------------------------------------------------------
# histogram
# ---------------------------------------------------------------------------


def histogram(df: DataFrame, col: str, lo: float, hi: float, nbins: int) -> DataFrame:
    """Equal-width histogram of ``col`` over ``[lo, hi)``.

    Out-of-range values are clamped into the edge buckets (so the
    counts always total ``count(col is not null)``).  The bucket id is
    a single row-local double expression — identical IEEE arithmetic
    in any engine — so cross-engine comparison is exact.

    Returns ``(bucket, lo_edge, hi_edge, n)`` with one row per
    non-empty bucket.
    """
    if nbins <= 0:
        raise ValueError(f"nbins must be positive, got {nbins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    width = (hi - lo) / nbins
    raw = F.floor((F.col(col).cast("double") - F.lit(float(lo))) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("bigint")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.lit(float(lo)) + F.col("bucket") * F.lit(width)).alias("lo_edge"),
            (F.lit(float(lo)) + (F.col("bucket") + 1) * F.lit(width)).alias("hi_edge"),
            "n",
        )
    )


def histogram_sql(table: str, col: str, lo: float, hi: float, nbins: int) -> str:
    """DuckDB mirror of :func:`histogram` (same IEEE bucket math)."""
    width = (hi - lo) / nbins
    raw = f"FLOOR((CAST({col} AS DOUBLE) - {float(lo)!r}) / {width!r})"
    bucket = f"CAST(LEAST(GREATEST({raw}, 0), {nbins - 1}) AS BIGINT)"
    return f"""
    SELECT bucket,
           {float(lo)!r} + bucket * {width!r} AS lo_edge,
           {float(lo)!r} + (bucket + 1) * {width!r} AS hi_edge,
           n
    FROM (
      SELECT {bucket} AS bucket, COUNT(*) AS n
      FROM {table} WHERE {col} IS NOT NULL
      GROUP BY 1
    )
    """


# ---------------------------------------------------------------------------
# covariance / correlation from exact decimal moments
# ---------------------------------------------------------------------------

_DEC = "decimal(18,4)"
_DEC_SQ = "decimal(38,8)"


def _moment_aggs(x: str, y: str) -> list:
    xc = F.col(x).cast(_DEC)
    yc = F.col(y).cast(_DEC)
    return [
        F.count(F.lit(1)).alias("__n"),
        F.sum(xc).alias("__sx"),
        F.sum(yc).alias("__sy"),
        F.sum((xc * xc).cast(_DEC_SQ)).alias("__sxx"),
        F.sum((yc * yc).cast(_DEC_SQ)).alias("__syy"),
        F.sum((xc * yc).cast(_DEC_SQ)).alias("__sxy"),
    ]


def _finish_corr(prefix: DataFrame) -> DataFrame:
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    cov = (sxy - sx * sy / n) / (n - F.lit(1.0))
    vx = (sxx - sx * sx / n) / (n - F.lit(1.0))
    vy = (syy - sy * sy / n) / (n - F.lit(1.0))
    return prefix.withColumns(
        {
            "n_rows": F.col("__n"),
            "covar_samp": cov,
            "corr": cov / (F.sqrt(vx) * F.sqrt(vy)),
        }
    ).drop("__n", "__sx", "__sy", "__sxx", "__syy", "__sxy")


def grouped_corr(df: DataFrame, group_cols: list[str], x: str, y: str) -> DataFrame:
    """Per-group sample covariance + Pearson correlation of ``(x, y)``.

    All five moment sums are decimal-exact and ride one aggregation
    (one scan, one shuffle on the group key); the covariance/
    correlation finish is a handful of double ops on per-group scalars
    — deterministic regardless of row order, unlike the built-in
    ``corr``/``covar_samp`` (incremental co-moment updates, order-
    dependent in the last ulps).
    """
    return _finish_corr(df.groupBy(*group_cols).agg(*_moment_aggs(x, y)))


def dec_to_double_sql(expr: str) -> str:
    """Correctly-rounded DECIMAL->DOUBLE for DuckDB, via VARCHAR.

    DuckDB's direct ``CAST(DECIMAL AS DOUBLE)`` divides the (possibly
    int128) unscaled value by ``10^scale`` in floating point — two
    roundings, up to 1 ulp off the true decimal value — while Spark's
    BigDecimal conversion is correctly rounded.  String parsing
    (strtod) is correctly rounded in both engines, so the round-trip
    restores bit-for-bit agreement for wide decimals.
    """
    return f"CAST(CAST({expr} AS STRING) AS DOUBLE)"


def grouped_corr_sql(table: str, group_cols: list[str], x: str, y: str) -> str:
    # DECIMAL(19,4) on the DuckDB side: width <= 18 multiplies in
    # int64 and overflows for price-scale values; 19 forces int128.
    # The values are identical to Spark's decimal(18,4) operands.
    g = ", ".join(group_cols)
    xc = f"CAST({x} AS DECIMAL(19,4))"
    yc = f"CAST({y} AS DECIMAL(19,4))"
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx = dec_to_double_sql(f"SUM({xc})")
    sy = dec_to_double_sql(f"SUM({yc})")
    sxx = dec_to_double_sql(f"SUM(CAST(({xc} * {xc}) AS DECIMAL(38,8)))")
    syy = dec_to_double_sql(f"SUM(CAST(({yc} * {yc}) AS DECIMAL(38,8)))")
    sxy = dec_to_double_sql(f"SUM(CAST(({xc} * {yc}) AS DECIMAL(38,8)))")
    cov = f"(({sxy} - {sx} * {sy} / {n}) / ({n} - 1.0))"
    vx = f"(({sxx} - {sx} * {sx} / {n}) / ({n} - 1.0))"
    vy = f"(({syy} - {sy} * {sy} / {n}) / ({n} - 1.0))"
    return f"""
    SELECT {g}, COUNT(*) AS n_rows,
           {cov} AS covar_samp,
           {cov} / (sqrt({vx}) * sqrt({vy})) AS corr
    FROM {table}
    GROUP BY {g}
    """


# ---------------------------------------------------------------------------
# z-score outlier flagging
# ---------------------------------------------------------------------------


def outlier_zscore(
    df: DataFrame, group_cols: list[str], value_col: str, threshold: float = 2.0
) -> DataFrame:
    """Flag rows whose value is ``>= threshold`` sample stddevs from
    the group mean.

    Shape: one tiny per-group moment aggregation (rows = number of
    groups) broadcast-joined back onto the facts — the fact side never
    shuffles.  Mean/stddev come from exact decimal sums, so the flag
    boundary is deterministic across engines and partitionings.

    Adds ``z`` (double) and ``is_outlier`` (boolean) to ``df``.
    """
    xc = F.col(value_col).cast(_DEC)
    moments = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(xc).alias("__sx"),
        F.sum((xc * xc).cast(_DEC_SQ)).alias("__sxx"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    stats = moments.select(
        *group_cols,
        (sx / n).alias("__mean"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0))).alias("__std"),
    )
    z = (F.col(value_col).cast("double") - F.col("__mean")) / F.col("__std")
    return (
        df.join(F.broadcast(stats), on=group_cols, how="inner")
        .withColumn("z", z)
        .withColumn("is_outlier", F.abs(F.col("z")) >= F.lit(float(threshold)))
        .drop("__mean", "__std")
    )


# ---------------------------------------------------------------------------
# robust scaling (median / IQR normalization)
# ---------------------------------------------------------------------------


def robust_scale(
    df: DataFrame, group_cols: list[str], value_col: str, out_col: str = "robust_z"
) -> DataFrame:
    """Median/IQR feature normalization per group:
    ``(v - median) / (p75 - p25)`` — the outlier-insensitive
    alternative to z-scores for heavy-tailed corpus features.

    Same two-job shape as :func:`outlier_zscore`: a tiny per-group
    quantile table broadcast back onto the facts (the facts never
    shuffle; exact ``percentile`` is a single-pass sketch-free agg).
    For integer-valued features the interpolated quantiles are exact
    binary fractions, so the scale factors — and the scaled values —
    are engine-exact.  Groups with zero IQR yield NULL (undefined
    scale), matching SQL division semantics.
    """
    q = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, array(0.25, 0.5, 0.75))").alias("__q")
    )
    stats = q.select(
        *group_cols,
        F.element_at("__q", 2).alias("__med"),
        (F.element_at("__q", 3) - F.element_at("__q", 1)).alias("__iqr"),
    )
    scaled = (F.col(value_col).cast("double") - F.col("__med")) / F.nullif(
        F.col("__iqr"), F.lit(0.0)
    )
    return (
        df.join(F.broadcast(stats), on=group_cols, how="inner")
        .withColumn(out_col, scaled)
        .drop("__med", "__iqr")
    )


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    out_col: str = "wmedian",
) -> DataFrame:
    """Exact weighted median of ``value_col`` per group: the smallest
    value v with cumulative weight(<= v) >= half the total weight.

    Scale shape: the frame is first compressed to one row per
    (group, value) with an exact decimal weight sum — this aggregation
    combines map-side, so the window that follows sorts only the
    DISTINCT values of a group, not its rows.  For bounded-domain
    features (quantities, ratings, bucketed scores) that is a few
    dozen rows per group regardless of corpus size.  For continuous
    features, bucket the value first (``histogram``) or use
    ``robust_scale``'s interpolated percentile instead.

    The half-total comparison is ``2 * cum >= total`` in exact
    decimals — no float threshold can flip a boundary value.
    """
    compressed = df.groupBy(*group_cols, value_col).agg(
        F.sum(F.col(weight_col).cast("decimal(18,2)")).alias("__w")
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    hit = (
        compressed.withColumn("__cum", F.sum("__w").over(wcum))
        .withColumn("__tot", F.sum("__w").over(wtot))
        .filter(F.col("__cum") * 2 >= F.col("__tot"))
    )
    return hit.groupBy(*group_cols).agg(F.min(value_col).alias(out_col))


def weighted_median_sql(
    table: str, group_cols: list[str], value_col: str, weight_col: str, out_col: str
) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH compressed AS (
      SELECT {keys}, {value_col} AS v,
             SUM(CAST({weight_col} AS DECIMAL(18,2))) AS w
      FROM {table} GROUP BY {keys}, {value_col}
    ),
    cum AS (
      SELECT {keys}, v,
             SUM(w) OVER (PARTITION BY {keys} ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS c,
             SUM(w) OVER (PARTITION BY {keys}) AS t
      FROM compressed
    )
    SELECT {keys}, MIN(v) AS {out_col} FROM cum
    WHERE c * 2 >= t GROUP BY {keys}
    """


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Median-absolute-deviation outlier flags per group:
    ``|v - median| > k * median(|v - median|)`` — the fully robust
    companion to :func:`outlier_zscore` (a z-score's mean AND stddev
    are themselves dragged by the outliers being hunted; medians are
    not).

    Two tiny per-group exact-``percentile`` aggregations, each
    broadcast back onto the facts — the fact rows never shuffle in
    either pass.  For integer features both medians are exact binary
    fractions (x or x.5), so the deviations, the k*MAD products, and
    the flags are bit-identical across engines.

    Returns the input rows with ``abs_dev``, ``mad``, ``is_outlier``.
    """
    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    with_dev = df.join(F.broadcast(med), on=group_cols, how="inner").withColumn(
        "abs_dev", F.abs(F.col(value_col).cast("double") - F.col("__med"))
    )
    mad = with_dev.groupBy(*group_cols).agg(
        F.expr("percentile(abs_dev, 0.5)").alias("mad")
    )
    return (
        with_dev.join(F.broadcast(mad), on=group_cols, how="inner")
        .withColumn("is_outlier", F.col("abs_dev") > F.lit(k) * F.col("mad"))
        .drop("__med")
    )


def mad_outliers_sql(table: str, group_cols: list[str], value_col: str, k: float, cols: str) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH med AS (
      SELECT {keys}, quantile_cont({value_col}, 0.5) AS m
      FROM {table} GROUP BY {keys}
    ),
    dev AS (
      SELECT t.*, abs(CAST({value_col} AS DOUBLE) - m) AS abs_dev
      FROM {table} t JOIN med USING ({keys})
    ),
    mad AS (
      SELECT {keys}, quantile_cont(abs_dev, 0.5) AS mad
      FROM dev GROUP BY {keys}
    )
    SELECT {cols}, abs_dev, mad.mad AS mad,
           abs_dev > {k} * mad.mad AS is_outlier
    FROM dev JOIN mad USING ({keys})
    """


def quantile_bin(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    nbins: int = 4,
    out_col: str = "bin",
) -> DataFrame:
    """Equal-frequency (quantile) binning of ``value_col`` per group —
    the rank-free companion to :func:`histogram` (equal-width).

    The ``nbins - 1`` interior thresholds come from one tiny exact-
    ``percentile`` aggregation broadcast back onto the facts; the bin
    id is then ``sum(value >= t_i)`` — row-local comparisons, no rank
    window, facts never shuffle.  With power-of-two ``nbins`` over
    integer values every threshold is an exact binary fraction, so bin
    boundaries are engine-exact.
    """
    if nbins < 2:
        raise ValueError(f"nbins must be >= 2, got {nbins}")
    fracs = [i / nbins for i in range(1, nbins)]
    q = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, array({', '.join(map(repr, fracs))}))").alias("__t")
    )
    v = F.col(value_col).cast("double")
    bin_expr = sum(
        (v >= F.element_at("__t", i + 1)).cast("bigint") for i in range(nbins - 1)
    )
    return (
        df.join(F.broadcast(q), on=group_cols, how="inner")
        .withColumn(out_col, bin_expr)
        .drop("__t")
    )


def quantile_bin_sql(
    table: str, group_cols: list[str], value_col: str, nbins: int, cols: str, out_col: str = "bin"
) -> str:
    keys = ", ".join(group_cols)
    fracs = [i / nbins for i in range(1, nbins)]
    qs = ", ".join(f"quantile_cont({value_col}, {f!r}) AS t{i}" for i, f in enumerate(fracs))
    bin_sum = " + ".join(
        f"CAST(CAST({value_col} AS DOUBLE) >= t{i} AS BIGINT)" for i in range(nbins - 1)
    )
    return f"""
    WITH q AS (SELECT {keys}, {qs} FROM {table} GROUP BY {keys})
    SELECT {cols}, {bin_sum} AS {out_col}
    FROM {table} JOIN q USING ({keys})
    """


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    cat_col: str,
) -> DataFrame:
    """Total-variation distance between two slices' categorical
    distributions: ``TVD = 0.5 * sum_c |p_a(c) - p_b(c)|`` — the
    log-free drift statistic (PSI/KL need ``log``, whose libm rounding
    differs across engines; TVD is exact arithmetic).

    Exactness: with common denominator ``tot_a * tot_b`` the summand is
    the INTEGER ``|n_a*tot_b - n_b*tot_a|`` — summed exactly in any
    order — and only the final single division runs in floating point.
    A float-per-category sum would depend on partition order.

    Shape: one groupBy per slice (map-side combine), a full outer join
    of the two tiny category tables, one single-row total.  Returns
    ``(tvd, n_a, n_b)``.
    """
    ca = df_a.groupBy(F.col(cat_col).alias("c")).agg(F.count(F.lit(1)).alias("n_a"))
    cb = df_b.groupBy(F.col(cat_col).alias("c")).agg(F.count(F.lit(1)).alias("n_b"))
    joined = ca.join(cb, "c", "full_outer").select(
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tots = joined.agg(
        F.sum("n_a").alias("tot_a"),
        F.sum("n_b").alias("tot_b"),
        # |n_a * tot_b - n_b * tot_a| needs the totals, which are not
        # known until this same aggregation — so carry the two partial
        # integer vectors and finish below with a second tiny agg.
        F.collect_list(F.struct("n_a", "n_b")).alias("__cats"),
    )
    # The category list is agg output (|categories| elements, tiny);
    # the numerator is an exact integer fold over it.
    num = F.aggregate(
        "__cats",
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + F.abs(s["n_a"] * F.col("tot_b") - s["n_b"] * F.col("tot_a")),
    )
    return tots.select(
        (num.cast("double") / (F.lit(2.0) * F.col("tot_a") * F.col("tot_b"))).alias("tvd"),
        F.col("tot_a").alias("n_a"),
        F.col("tot_b").alias("n_b"),
    )


def distribution_drift_sql(slice_a_sql: str, slice_b_sql: str, cat_col: str) -> str:
    return f"""
    WITH ca AS (SELECT {cat_col} AS c, COUNT(*) AS n_a FROM ({slice_a_sql}) GROUP BY 1),
    cb AS (SELECT {cat_col} AS c, COUNT(*) AS n_b FROM ({slice_b_sql}) GROUP BY 1),
    j AS (
      SELECT COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      FROM ca FULL OUTER JOIN cb USING (c)
    ),
    t AS (SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b FROM j)
    SELECT CAST(SUM(abs(n_a * tot_b - n_b * tot_a)) AS DOUBLE)
             / (2.0 * tot_a * tot_b) AS tvd,
           CAST(tot_a AS BIGINT) AS n_a, CAST(tot_b AS BIGINT) AS n_b
    FROM j, t GROUP BY tot_a, tot_b
    """


def quantile_profile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group distribution profile: exact min / p25 / median / p75 /
    max in ONE aggregation pass (the wide-row companion to
    :func:`histogram`; quarter quantiles of integer features are
    engine-exact — see :func:`robust_scale`)."""
    q = F.expr(f"percentile({value_col}, array(0.25, 0.5, 0.75))")
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(value_col).alias("v_min"),
        q.alias("__q"),
        F.max(value_col).alias("v_max"),
    ).select(
        *group_cols,
        "n",
        "v_min",
        F.element_at("__q", 1).alias("p25"),
        F.element_at("__q", 2).alias("p50"),
        F.element_at("__q", 3).alias("p75"),
        "v_max",
    )


def quantile_profile_sql(table: str, group_cols: list[str], value_col: str) -> str:
    keys = ", ".join(group_cols)
    return f"""
    SELECT {keys}, COUNT(*) AS n,
           MIN({value_col}) AS v_min,
           quantile_cont({value_col}, 0.25) AS p25,
           quantile_cont({value_col}, 0.5) AS p50,
           quantile_cont({value_col}, 0.75) AS p75,
           MAX({value_col}) AS v_max
    FROM {table} GROUP BY {keys}
    """


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic:
    ``D = max_v |ECDF_a(v) - ECDF_b(v)|`` — the distribution-shift test
    for NUMERIC features (the companion to :func:`distribution_drift`'s
    TVD over categories).

    Exactness: both ECDFs are step functions that only change at
    observed values, so D is attained at one of the distinct values;
    with common denominator ``n_a * n_b`` the comparison value is the
    INTEGER ``|cum_a * n_b - cum_b * n_a|`` — windows and maxes over
    exact integers, one final division.

    Scale shape: each slice compresses to (group, value) counts first
    (map-side combine), the cumulative window runs over DISTINCT values
    per group (domain-bounded, never slice rows), and the group key
    partitions the window — no global window.  Returns
    ``(group..., ks_d, n_a, n_b)``.

    One-sided groups (present in only one slice) are the STRONGEST
    drift signal: the ECDF of the empty slice is identically 0, so
    ``D = 1`` by definition — emitted explicitly rather than letting
    the ``n_a * n_b`` denominator divide by zero into NULL.
    """
    ca = df_a.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("n_a"))
    cb = df_b.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("n_b"))
    merged = ca.join(cb, [*group_cols, value_col], "full_outer").select(
        *group_cols,
        value_col,
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    stepped = merged.select(
        *group_cols,
        F.sum("n_a").over(wcum).alias("cum_a"),
        F.sum("n_b").over(wcum).alias("cum_b"),
        F.sum("n_a").over(wtot).alias("tot_a"),
        F.sum("n_b").over(wtot).alias("tot_b"),
    )
    return stepped.groupBy(*group_cols).agg(
        F.when(
            (F.max("tot_a") > 0) & (F.max("tot_b") > 0),
            F.max(F.abs(F.col("cum_a") * F.col("tot_b") - F.col("cum_b") * F.col("tot_a")))
            .cast("double")
            / (F.max("tot_a") * F.max("tot_b")),
        )
        .otherwise(F.lit(1.0))
        .alias("ks_d"),
        F.max("tot_a").alias("n_a"),
        F.max("tot_b").alias("n_b"),
    )


def ks_two_sample_sql(
    slice_a_sql: str, slice_b_sql: str, group_cols: list[str], value_col: str
) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH ca AS (
      SELECT {keys}, {value_col} AS v, COUNT(*) AS n_a
      FROM ({slice_a_sql}) GROUP BY {keys}, {value_col}
    ),
    cb AS (
      SELECT {keys}, {value_col} AS v, COUNT(*) AS n_b
      FROM ({slice_b_sql}) GROUP BY {keys}, {value_col}
    ),
    merged AS (
      SELECT {keys}, v, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
      FROM ca FULL OUTER JOIN cb USING ({keys}, v)
    ),
    stepped AS (
      SELECT {keys},
             SUM(n_a) OVER (PARTITION BY {keys} ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(n_b) OVER (PARTITION BY {keys} ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum_b,
             SUM(n_a) OVER (PARTITION BY {keys}) AS tot_a,
             SUM(n_b) OVER (PARTITION BY {keys}) AS tot_b
      FROM merged
    )
    SELECT {keys},
           CASE WHEN MAX(tot_a) > 0 AND MAX(tot_b) > 0
                THEN CAST(MAX(abs(cum_a * tot_b - cum_b * tot_a)) AS DOUBLE)
                       / (MAX(tot_a) * MAX(tot_b))
                ELSE 1.0 END AS ks_d,
           CAST(MAX(tot_a) AS BIGINT) AS n_a,
           CAST(MAX(tot_b) AS BIGINT) AS n_b
    FROM stepped GROUP BY {keys}
    """


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo_pct: float = 0.25,
    hi_pct: float = 0.75,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to the group's
    [lo_pct, hi_pct] exact quantiles — the standard outlier-taming
    transform before averaging noisy features.

    Quantile choices default to quarters because quarter quantiles of
    integer inputs are engine-exact (see :func:`robust_scale`); pass
    other percentiles only when cross-engine bit-parity is not needed.

    Scale shape: one aggregation computes the per-group bounds (tiny,
    group-cardinality rows) which broadcast back onto the facts — the
    fact table never shuffles and there is no rank window.  Adds
    ``v_clipped`` plus the bounds.
    """
    q = F.expr(f"percentile({value_col}, array({lo_pct!r}, {hi_pct!r}))")
    bounds = df.groupBy(*group_cols).agg(
        F.element_at(q, 1).alias("__lo"), F.element_at(q, 2).alias("__hi")
    )
    return (
        df.join(F.broadcast(bounds), group_cols)
        .withColumn(
            "v_clipped",
            F.least(F.greatest(F.col(value_col).cast("double"), F.col("__lo")), F.col("__hi")),
        )
        .withColumnRenamed("__lo", "clip_lo")
        .withColumnRenamed("__hi", "clip_hi")
    )


def winsorize_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    lo_pct: float = 0.25,
    hi_pct: float = 0.75,
) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH bounds AS (
      SELECT {keys},
             quantile_cont({value_col}, {lo_pct!r}) AS clip_lo,
             quantile_cont({value_col}, {hi_pct!r}) AS clip_hi
      FROM {table} GROUP BY {keys}
    )
    SELECT t.*, clip_lo, clip_hi,
           LEAST(GREATEST(CAST({value_col} AS DOUBLE), clip_lo), clip_hi) AS v_clipped
    FROM {table} t JOIN bounds USING ({keys})
    """


def rolling_zscore(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    window_rows: int = 20,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Trailing-window anomaly score per key: the z-score of each value
    against the mean/stddev of its preceding ``window_rows`` rows
    (exclusive of the current row) — the streaming-style outlier flag
    computed in batch.

    Exactness contract: values quantize to integer cents
    (``floor(x * 100)``), so the frame's sum and sum-of-squares are
    exact integers (bounded: 20 rows x 1e8 cents keeps sum^2 under
    2^53), and every double op after that (one divide, one sqrt) is a
    single correctly-rounded IEEE step — bit-identical across engines
    and partitionings.  Rows with fewer than 2 preceding values or zero
    variance emit NULL.

    Scale shape: one keyed window (no global window), rows-frame state
    bounded by ``window_rows``.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(time_col, *(order_tiebreak or []))
        .rowsBetween(-window_rows, -1)
    )
    c = F.floor(F.col(value_col) * 100).cast("bigint")
    base = df.withColumn("__c", c)
    n = F.count("__c").over(w)
    s = F.sum("__c").over(w)
    ssq = F.sum(F.col("__c") * F.col("__c")).over(w)
    mean = s.cast("double") / n
    var = (ssq.cast("double") - s.cast("double") * s.cast("double") / n) / (n - 1)
    z = (F.col("__c").cast("double") - mean) / F.sqrt(var)
    return base.withColumn(
        "zscore", F.when((n >= 2) & (var > 0), z)
    ).drop("__c")


def rolling_zscore_sql(
    table_sql: str,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    window_rows: int = 20,
    order_tiebreak: list[str] | None = None,
) -> str:
    part = ", ".join(key_cols)
    order = ", ".join([time_col] + list(order_tiebreak or []))
    w = (
        f"OVER (PARTITION BY {part} ORDER BY {order} "
        f"ROWS BETWEEN {window_rows} PRECEDING AND 1 PRECEDING)"
    )
    return f"""
    SELECT * EXCLUDE (__c, __n, __s, __ssq),
           CASE WHEN __n >= 2
                 AND (CAST(__ssq AS DOUBLE) - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE) / __n)
                      / (__n - 1) > 0
                THEN (CAST(__c AS DOUBLE) - CAST(__s AS DOUBLE) / __n)
                     / sqrt((CAST(__ssq AS DOUBLE) - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE) / __n)
                            / (__n - 1))
           END AS zscore
    FROM (
      SELECT *, COUNT(__c) {w} AS __n, SUM(__c) {w} AS __s,
             SUM(__c * __c) {w} AS __ssq
      FROM (
        SELECT *, CAST(FLOOR({value_col} * 100) AS BIGINT) AS __c FROM ({table_sql})
      )
    )
    """


def trimmed_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo_pct: float = 0.25,
    hi_pct: float = 0.75,
) -> DataFrame:
    """Per-group interquartile (trimmed) mean: the mean of values inside
    the exact [lo_pct, hi_pct] quantile band — the outlier-robust
    location estimate (quarter quantiles of integers are engine-exact,
    see :func:`robust_scale`; the in-band mean itself is a decimal-
    exact sum / count, order-independent).

    Returns ``(group..., n_in_band, trimmed_mean)``.  Shape: one tiny
    per-group quantile aggregation broadcast back onto the facts (no
    rank window), then one aggregation of the surviving band.
    """
    q = F.expr(f"percentile({value_col}, array({lo_pct!r}, {hi_pct!r}))")
    bounds = df.groupBy(*group_cols).agg(
        F.element_at(q, 1).alias("__lo"), F.element_at(q, 2).alias("__hi")
    )
    band = df.join(F.broadcast(bounds), group_cols).filter(
        (F.col(value_col) >= F.col("__lo")) & (F.col(value_col) <= F.col("__hi"))
    )
    return band.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_in_band"),
        (
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("trimmed_mean"),
    )


def trimmed_mean_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    lo_pct: float = 0.25,
    hi_pct: float = 0.75,
) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH bounds AS (
      SELECT {keys},
             quantile_cont({value_col}, {lo_pct!r}) AS lo,
             quantile_cont({value_col}, {hi_pct!r}) AS hi
      FROM {table} GROUP BY {keys}
    )
    SELECT {keys}, COUNT(*) AS n_in_band,
           CAST(CAST(SUM(CAST({value_col} AS DECIMAL(19,2))) AS STRING) AS DOUBLE)
             / COUNT(*) AS trimmed_mean
    FROM {table} t JOIN bounds USING ({keys})
    WHERE {value_col} >= lo AND {value_col} <= hi
    GROUP BY {keys}
    """


# ---------------------------------------------------------------------------
# chi-squared independence
# ---------------------------------------------------------------------------


def chi_squared(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Pearson chi-squared contingency table between two categorical
    columns: per-cell observed count, expected count under
    independence, and the cell's chi-squared contribution
    ``(o - e)^2 / e``.

    Scale shape: ONE aggregation shuffle over the facts (the
    ``(a, b)`` cell counts); marginals are window sums over the
    already-aggregated cells frame (|A| x |B| rows — domain-bounded,
    tiny), partitioned by each margin key, and the grand total is a
    separate count-only aggregate broadcast back — the facts never
    shuffle twice and never join.

    Exactness: o, r, c, N are exact integers; ``expected`` and
    ``contrib`` are a fixed per-row sequence of IEEE double ops on
    those integers, so both engines produce bit-identical doubles
    (the interpolate_linear precedent).  The chi-squared TOTAL is a
    float sum (order-dependent) and is deliberately NOT emitted —
    sum the per-cell contributions client-side if needed.
    """
    cells = df.groupBy(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    total = df.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    withm = (
        cells.withColumn("r", F.sum("o").over(wa))
        .withColumn("c", F.sum("o").over(wb))
        .crossJoin(F.broadcast(total))
    )
    e = (
        F.col("r").cast("double")
        * F.col("c").cast("double")
        / F.col("n_total").cast("double")
    )
    d = F.col("o").cast("double") - e
    return withm.select(
        "a",
        "b",
        "o",
        "r",
        "c",
        "n_total",
        e.alias("expected"),
        (d * d / e).alias("contrib"),
    )


def chi_squared_sql(table: str, a_col: str, b_col: str) -> str:
    """DuckDB mirror: identical window/aggregate structure and the
    identical double-op sequence (mul, div, sub, mul, div)."""
    return f"""
    WITH cells AS (
      SELECT {a_col} AS a, {b_col} AS b, COUNT(*) AS o
      FROM {table} GROUP BY 1, 2
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM {table}),
    m AS (
      SELECT a, b, o,
             CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS r,
             CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS c,
             n_total
      FROM cells CROSS JOIN tot
    )
    SELECT a, b, o, r, c, n_total,
           (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / CAST(n_total AS DOUBLE) AS expected,
           ((CAST(o AS DOUBLE) - (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / CAST(n_total AS DOUBLE))
            * (CAST(o AS DOUBLE) - (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / CAST(n_total AS DOUBLE)))
           / ((CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) / CAST(n_total AS DOUBLE)) AS contrib
    FROM m
    """


# ---------------------------------------------------------------------------
# grouped ordinary-least-squares regression
# ---------------------------------------------------------------------------


def grouped_linreg(df: DataFrame, group_cols: list[str], x: str, y: str) -> DataFrame:
    """Per-group simple OLS fit ``y = slope * x + intercept`` (+ R^2),
    from the same decimal-exact moment sums as :func:`grouped_corr` —
    one scan, one shuffle on the group key, and a fixed double-op
    finish on per-group scalars, so the fit is order-independent and
    engine-exact (the built-in ``regr_slope`` is an incremental
    co-moment update whose last ulps depend on row order).

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        intercept = (Sy - slope*Sx) / n
        r2 = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    Groups with zero x-variance emit NULL slope/intercept/r2.
    Returns ``(group_cols..., n_rows, slope, intercept, r2)``.
    """
    agg = df.groupBy(*group_cols).agg(*_moment_aggs(x, y))
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = F.when(den != 0.0, num / den)
    return agg.select(
        *group_cols,
        F.col("__n").alias("n_rows"),
        slope.alias("slope"),
        F.when(den != 0.0, (sy - (num / den) * sx) / n).alias("intercept"),
        F.when((den != 0.0) & (deny != 0.0), (num * num) / (den * deny)).alias("r2"),
    )


def grouped_linreg_sql(table: str, group_cols: list[str], x: str, y: str) -> str:
    """DuckDB mirror: identical moment sums (DECIMAL(19,4) operands,
    string-routed decimal->double) and identical finish sequence."""
    g = ", ".join(group_cols)
    xc = f"CAST({x} AS DECIMAL(19,4))"
    yc = f"CAST({y} AS DECIMAL(19,4))"
    n = "CAST(COUNT(*) AS DOUBLE)"
    sx = dec_to_double_sql(f"SUM({xc})")
    sy = dec_to_double_sql(f"SUM({yc})")
    sxx = dec_to_double_sql(f"SUM(CAST(({xc} * {xc}) AS DECIMAL(38,8)))")
    syy = dec_to_double_sql(f"SUM(CAST(({yc} * {yc}) AS DECIMAL(38,8)))")
    sxy = dec_to_double_sql(f"SUM(CAST(({xc} * {yc}) AS DECIMAL(38,8)))")
    num = f"({n} * {sxy} - {sx} * {sy})"
    den = f"({n} * {sxx} - {sx} * {sx})"
    deny = f"({n} * {syy} - {sy} * {sy})"
    return f"""
    SELECT {g}, COUNT(*) AS n_rows,
           CASE WHEN {den} <> 0.0 THEN {num} / {den} END AS slope,
           CASE WHEN {den} <> 0.0
                THEN ({sy} - ({num} / {den}) * {sx}) / {n} END AS intercept,
           CASE WHEN {den} <> 0.0 AND {deny} <> 0.0
                THEN ({num} * {num}) / ({den} * {deny}) END AS r2
    FROM {table}
    GROUP BY {g}
    """


# ---------------------------------------------------------------------------
# per-group categorical mode
# ---------------------------------------------------------------------------


def grouped_mode(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Most frequent value per group, ties broken by SMALLEST value —
    a total, engine-independent rule (the built-in ``mode()`` leaves
    ties implementation-defined in both engines).

    Two aggregations, both on fine-grained keys: value counts on
    (group, value), then an ``arg-min`` reduction over a zero-padded
    ``(max_count - count, value)`` string key (the portable composite-
    order trick from ``operators/dedup.keep_best``).  Returns
    ``(group_cols..., mode_value, mode_count)``.
    """
    counts = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    # invert the count into the key so lexicographic MIN = (max count,
    # then smallest value); 10^18 bounds any count. Integral values are
    # offset-padded into the key too — a bare string cast would rank
    # "10" before "4" (lexicographic), breaking the documented
    # smallest-VALUE tiebreak (caught by the r7 randomized harness).
    dtype = dict(df.dtypes)[value_col]
    numeric = dtype in ("tinyint", "smallint", "int", "bigint")
    key = _mode_key(value_col, numeric)
    return counts.groupBy(*group_cols).agg(
        F.expr(f"min_by({value_col}, {key})").alias("mode_value"),
        F.max("__cnt").alias("mode_count"),
    )


def _mode_key(value_col: str, numeric: bool, cnt: str = "__cnt") -> str:
    """The portable (max count, smallest value) composite MIN key.

    Integral values are offset into the non-negative range then
    zero-padded so the string order IS the numeric order; everything
    else compares as its string cast. Identical SQL runs on both
    engines (printf + || exist in Spark SQL and DuckDB).
    """
    if numeric:
        val = f"printf('%020d', 500000000000000000 + {value_col})"
    else:
        val = f"CAST({value_col} AS STRING)"
    return f"printf('%020d', 1000000000000000000 - {cnt}) || '|' || {val}"


def grouped_mode_sql(
    table: str, group_cols: list[str], value_col: str, numeric: bool = False
) -> str:
    g = ", ".join(group_cols)
    key = _mode_key(value_col, numeric, cnt="cnt")
    return f"""
    WITH counts AS (
      SELECT {g}, {value_col}, COUNT(*) AS cnt FROM {table} GROUP BY {g}, {value_col}
    )
    SELECT {g}, arg_min({value_col}, {key}) AS mode_value,
           CAST(MAX(cnt) AS BIGINT) AS mode_count
    FROM counts GROUP BY {g}
    """


# ---------------------------------------------------------------------------
# 2-D histogram (density heatmap binning)
# ---------------------------------------------------------------------------


def histogram2d(
    df: DataFrame,
    x_col: str,
    x_lo: float,
    x_hi: float,
    x_bins: int,
    y_col: str,
    y_lo: float,
    y_hi: float,
    y_bins: int,
) -> DataFrame:
    """Equal-width 2-D histogram — the density-heatmap reduction:
    ``(x_bin, y_bin, n)`` for non-empty cells, bin ids BIGINT.

    Both bucket ids are row-local expressions (one scan, map-side
    partial counts, at most ``x_bins * y_bins`` output rows); values
    outside a range clamp into the edge bins, the classic heatmap
    convention, and the shared bucket arithmetic with
    :func:`histogram` keeps both engines bit-identical (floor of one
    double multiply-divide on exact inputs).
    """

    def bucket(col: str, lo: float, hi: float, n: int):
        b = F.floor(
            (F.col(col).cast("double") - F.lit(float(lo)))
            * F.lit(float(n))
            / F.lit(float(hi) - float(lo))
        ).cast("bigint")
        return F.least(F.greatest(b, F.lit(0)), F.lit(n - 1))

    return (
        df.groupBy(
            bucket(x_col, x_lo, x_hi, x_bins).alias("x_bin"),
            bucket(y_col, y_lo, y_hi, y_bins).alias("y_bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram2d_sql(
    table: str,
    x_col: str,
    x_lo: float,
    x_hi: float,
    x_bins: int,
    y_col: str,
    y_lo: float,
    y_hi: float,
    y_bins: int,
) -> str:
    def bucket(col: str, lo: float, hi: float, n: int) -> str:
        b = (
            f"CAST(FLOOR((CAST({col} AS DOUBLE) - {float(lo)!r}) * {float(n)!r} "
            f"/ {float(hi) - float(lo)!r}) AS BIGINT)"
        )
        return f"LEAST(GREATEST({b}, 0), {n - 1})"

    return f"""
    SELECT {bucket(x_col, x_lo, x_hi, x_bins)} AS x_bin,
           {bucket(y_col, y_lo, y_hi, y_bins)} AS y_bin,
           COUNT(*) AS n
    FROM {table}
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# higher moments: skewness / excess kurtosis from exact integer power sums
# ---------------------------------------------------------------------------


def grouped_moments(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    scale: int = 1,
) -> DataFrame:
    """Per-group population skewness and excess kurtosis — the
    distribution-shape profile a corpus-QA pass runs next to mean/
    stddev (is the length distribution long-tailed? peaked?).

    Exactness contract: values quantize to integers
    (``floor(x * scale)``; pass ``scale=1`` for already-integral
    columns), the four power sums accumulate in DECIMAL(38,0) — exact
    and order-independent — and the finish is a FIXED sequence of
    double ops on per-group scalars, so the result is bit-identical
    across engines and partitionings.  Skewness/kurtosis are invariant
    under the quantization scale (both engines run the identical IEEE
    sequence, so they agree bit-for-bit even where the estimator
    itself is scale-sensitive in the last ulp).

    Raw->central moment finish (population form, mirrored verbatim in
    :func:`grouped_moments_sql` — op order is part of the contract)::

        m1 = s1/n; t2 = s2/n; t3 = s3/n; t4 = s4/n
        m2 = t2 - m1*m1
        m3 = t3 - 3.0*m1*t2 + 2.0*m1*m1*m1
        m4 = t4 - 4.0*m1*t3 + 6.0*m1*m1*t2 - 3.0*m1*m1*m1*m1
        skewness = m3 / (m2 * sqrt(m2))
        kurtosis_excess = m4 / (m2*m2) - 3.0

    Groups with zero variance (or n == 0) emit NULL for both shapes.

    Scale shape: one scan, one shuffle on the group key, all four
    power sums ride the same map-side-partial aggregation; the finish
    runs on the group-count-sized table.
    """
    c = F.floor(F.col(value_col) * scale).cast("decimal(38,0)") if scale != 1 else F.col(
        value_col
    ).cast("decimal(38,0)")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c).alias("__s1"),
        F.sum(c * c).alias("__s2"),
        F.sum(c * c * c).alias("__s3"),
        F.sum(c * c * c * c).alias("__s4"),
    )
    n = F.col("n_rows").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    s3 = F.col("__s3").cast("double")
    s4 = F.col("__s4").cast("double")
    m1 = s1 / n
    t2 = s2 / n
    t3 = s3 / n
    t4 = s4 / n
    m2 = t2 - m1 * m1
    m3 = t3 - F.lit(3.0) * m1 * t2 + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        t4
        - F.lit(4.0) * m1 * t3
        + F.lit(6.0) * m1 * m1 * t2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    ok = m2 > 0
    return agg.withColumns(
        {
            "skewness": F.when(ok, m3 / (m2 * F.sqrt(m2))),
            "kurtosis_excess": F.when(ok, m4 / (m2 * m2) - F.lit(3.0)),
        }
    ).drop("__s1", "__s2", "__s3", "__s4")


def grouped_moments_sql(
    table: str,
    group_cols: list[str],
    value_col: str,
    scale: int = 1,
) -> str:
    """DuckDB mirror of :func:`grouped_moments`.

    SUM(BIGINT) is HUGEINT in DuckDB (int128 — same exactness class as
    Spark's DECIMAL(38,0) sums); every HUGEINT->DOUBLE conversion goes
    through the string round-trip (:func:`dec_to_double_sql`) because
    DuckDB's direct cast divides in floating point.
    """
    g = ", ".join(group_cols)
    c = (
        f"CAST(FLOOR({value_col} * {scale}) AS BIGINT)"
        if scale != 1
        else f"CAST({value_col} AS BIGINT)"
    )
    s1 = dec_to_double_sql("__s1")
    s2 = dec_to_double_sql("__s2")
    s3 = dec_to_double_sql("__s3")
    s4 = dec_to_double_sql("__s4")
    return f"""
    WITH sums AS (
      SELECT {g}, COUNT(*) AS n_rows,
             SUM(c) AS __s1, SUM(c * c) AS __s2,
             SUM(c * c * c) AS __s3, SUM(c * c * c * c) AS __s4
      FROM (SELECT {g}, {c} AS c FROM {table})
      GROUP BY {g}
    ),
    fin AS (
      SELECT {g}, n_rows,
             {s1} / CAST(n_rows AS DOUBLE) AS m1,
             {s2} / CAST(n_rows AS DOUBLE) AS t2,
             {s3} / CAST(n_rows AS DOUBLE) AS t3,
             {s4} / CAST(n_rows AS DOUBLE) AS t4
      FROM sums
    ),
    cm AS (
      SELECT {g}, n_rows,
             t2 - m1 * m1 AS m2,
             t3 - 3.0 * m1 * t2 + 2.0 * m1 * m1 * m1 AS m3,
             t4 - 4.0 * m1 * t3 + 6.0 * m1 * m1 * t2 - 3.0 * m1 * m1 * m1 * m1 AS m4
      FROM fin
    )
    SELECT {g}, n_rows,
           CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS skewness,
           CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis_excess
    FROM cm
    """


# ---------------------------------------------------------------------------
# cross-group quantile normalization (distribution matching)
# ---------------------------------------------------------------------------


def quantile_normalize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_cols: list[str],
    out_col: str = "value_qnorm",
) -> DataFrame:
    """Quantile normalization: replace each value with the GLOBAL value
    at the same quantile position, so every group's distribution maps
    onto the pooled distribution — batch-effect correction for mixed
    sources (a verbose source's length histogram lines up with the
    corpus before percentile gates are applied).

    Per row: within-group rank ``r`` (of ``n``) maps to the global
    value at rank ``ceil(r * N / n)`` of ``N``.  Pure integer rank
    arithmetic on a total order (``value, id_cols`` breaks ties), so
    the mapping is exact and engine-identical.  ``r * N`` must fit
    int64 (group size x corpus size < 2^63) — beyond that the mapping
    needs DECIMAL rank math; the operator keeps int64 and documents
    the bound.

    Scale shape: the within-group rank and group count ride ONE keyed
    window exchange; the global rank uses the distributed
    quantile-bucketed ``global_row_number`` (never a single-partition
    window); the final equi-join is on the computed rank.  The corpus
    size ``N`` is one driver-side count (bounded-scalar pattern).
    """
    from cosmos_xenna_spark.operators.ranking import (
        apply_global_row_number,
        global_rank_stats,
    )

    order = [F.col(value_col), *[F.col(c) for c in id_cols]]
    wg = Window.partitionBy(*group_cols).orderBy(*order)
    wn = Window.partitionBy(*group_cols)
    base = df.withColumn("__r", F.row_number().over(wg)).withColumn(
        "__n", F.count(F.lit(1)).over(wn)
    )
    proj = df.select(F.col(value_col).alias("__gv"), *[F.col(c) for c in id_cols])
    # The corpus size N is the rank stats' own offset sum — the former
    # standalone df.count() was a third full pass over the input.
    cuts, offsets, n_total = global_rank_stats(proj, "__gv")
    glob = apply_global_row_number(
        proj, ["__gv", *id_cols], cuts, offsets, out_col="__rn"
    ).select("__gv", "__rn")
    target = F.expr(f"(__r * {n_total}L + __n - 1L) div __n")
    return (
        base.withColumn("__t", target)
        .join(glob, F.col("__t") == F.col("__rn"))
        .withColumn(out_col, F.col("__gv"))
        .drop("__r", "__n", "__t", "__rn", "__gv")
    )


def quantile_normalize_sql(
    table_sql: str,
    group_cols: list[str],
    value_col: str,
    id_cols: list[str],
    out_col: str = "value_qnorm",
) -> str:
    """DuckDB mirror — plain windows (the oracle runs single-node)."""
    keys = ", ".join(group_cols)
    order = ", ".join([value_col, *id_cols])
    return f"""
    WITH t AS ({table_sql}),
    base AS (
      SELECT *,
             row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS r,
             COUNT(*) OVER (PARTITION BY {keys}) AS n
      FROM t
    ),
    gq AS (
      SELECT {value_col} AS gv,
             row_number() OVER (ORDER BY {order}) AS rn
      FROM t
    )
    SELECT base.* EXCLUDE (r, n), gq.gv AS {out_col}
    FROM base JOIN gq
      ON (r * (SELECT COUNT(*) FROM t) + n - 1) // n = gq.rn
    """


def target_encode_loo(
    df: DataFrame,
    category_col: str,
    target_col: str,
    scale: int = 100,
    out_col: str = "te_loo",
) -> DataFrame:
    """Leave-one-out target encoding: each row's categorical feature is
    replaced by the mean target of OTHER rows in its category —
    ``(sum_cat - own) / (n_cat - 1)`` — the leakage-safe form of the
    classic high-cardinality encoder (including the row's own target
    leaks the label straight into the feature; LOO is the standard
    guard).  Categories with a single row emit NULL (no peers to
    encode from).

    Exactness: targets quantize to integers (``floor(t * scale)``),
    category sums are exact BIGINTs broadcast back from the
    category-count-sized table, and the finish is one double division
    — bit-identical across engines and partitionings.

    Scale shape: one aggregation on the category key (map-side
    partial), the tiny sums table broadcast-joins back; facts never
    shuffle.
    """
    c = F.floor(F.col(target_col) * scale).cast("bigint")
    base = df.withColumn("__t", c)
    sums = base.groupBy(category_col).agg(
        F.sum("__t").alias("__sum"), F.count(F.lit(1)).alias("__n")
    )
    joined = base.join(F.broadcast(sums), category_col)
    loo = (F.col("__sum") - F.col("__t")).cast("double") / (
        (F.col("__n") - 1).cast("double") * F.lit(float(scale))
    )
    return joined.withColumn(
        out_col, F.when(F.col("__n") > 1, loo)
    ).drop("__t", "__sum", "__n")


def target_encode_loo_sql(
    table_sql: str,
    category_col: str,
    target_col: str,
    scale: int = 100,
    out_col: str = "te_loo",
) -> str:
    return f"""
    WITH base AS (
      SELECT *, CAST(FLOOR({target_col} * {scale}) AS BIGINT) AS __t
      FROM ({table_sql})
    ),
    sums AS (
      SELECT {category_col}, SUM(__t) AS __sum, COUNT(*) AS __n
      FROM base GROUP BY {category_col}
    )
    SELECT base.* EXCLUDE (__t),
           CASE WHEN __n > 1
                THEN CAST(__sum - __t AS DOUBLE)
                     / (CAST(__n - 1 AS DOUBLE) * {float(scale)!r})
           END AS {out_col}
    FROM base JOIN sums USING ({category_col})
    """


def simpson_diversity(
    df: DataFrame, group_cols: list[str], category_col: str
) -> DataFrame:
    """Simpson concentration / diversity per group, exactly: with
    ``n_i`` the per-category counts and ``N`` their sum,
    ``simpson_ppm = 10^6 * sum(n_i * (n_i - 1)) div (N * (N - 1))`` —
    the probability (in ppm) that two draws without replacement share
    a category.  Diversity profiling for corpus mixtures (language/
    domain concentration) without Shannon entropy's cross-engine
    ``log()`` hazard: every step is integer, so both engines agree
    bit-for-bit.

    Shape: one fine-grained (group, category) count + one group
    aggregation — two map-side-combinable shuffles, no windows.
    Groups with N < 2 are dropped (the index is undefined).
    """
    per_cat = df.groupBy(*group_cols, category_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        per_cat.groupBy(*group_cols)
        .agg(
            F.sum(F.col("__n") * (F.col("__n") - 1)).alias("__num"),
            F.sum("__n").alias("__N"),
            F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        )
        .filter(F.col("__N") >= 2)
        .select(
            *group_cols,
            "n_categories",
            F.col("__N").cast("bigint").alias("n_rows"),
            F.expr("1000000 * __num div (__N * (__N - 1))")
            .cast("bigint")
            .alias("simpson_ppm"),
        )
    )


def simpson_diversity_sql(
    table_sql: str, group_cols: list[str], category_col: str
) -> str:
    g = ", ".join(group_cols)
    return f"""
    SELECT {g}, CAST(COUNT(*) AS BIGINT) AS n_categories,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(1000000 * SUM(n * (n - 1)) // (SUM(n) * (SUM(n) - 1)) AS BIGINT)
             AS simpson_ppm
    FROM (
      SELECT {g}, {category_col}, COUNT(*) AS n
      FROM ({table_sql}) GROUP BY {g}, {category_col}
    )
    GROUP BY {g} HAVING SUM(n) >= 2
    """


def gini_concentration(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_tiebreak: str,
) -> DataFrame:
    """Gini coefficient per group over non-negative integer values
    (quantize floats upstream), exactly:
    ``gini_ppm = 10^6 * (2 * sum(i * x_i) - (n + 1) * sum(x)) div
    (n * sum(x))`` with ``x_i`` ascending and ``i`` the 1-based rank —
    revenue/traffic concentration (how top-heavy is a nation's
    customer base, a domain's doc share).

    One keyed window (rank within group) + one aggregation, all
    bigint.  Ties broken deterministically by ``order_tiebreak`` so
    ranks (and thus the exact result) are partition-invariant; the
    Gini VALUE is tie-order-independent anyway (equal x swap freely).
    Groups with sum(x) = 0 or n < 2 are dropped.  The rank-weighted
    sum and the finish products run in DECIMAL(38,0) on the Spark side
    (sum(i * x) ~ n^2 * max_x and n * sum(x) both cross int64 at
    sf1.0-scale groups — the 10x differential sweep hit the ANSI
    overflow); DuckDB's SUM(BIGINT) is already HUGEINT, so the two
    engines stay exact and equal.  The ppm quotient is <= 10^6 and
    returns to BIGINT.
    """
    w = Window.partitionBy(*group_cols).orderBy(value_col, order_tiebreak)
    ranked = df.select(
        *group_cols,
        F.col(value_col).cast("bigint").alias("__x"),
        F.row_number().over(w).cast("bigint").alias("__i"),
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.sum((F.col("__i") * F.col("__x")).cast("decimal(38,0)")).alias("__ix"),
            F.sum(F.col("__x").cast("decimal(38,0)")).alias("__sx"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .filter((F.col("__sx") > 0) & (F.col("n_rows") >= 2))
        .select(
            *group_cols,
            "n_rows",
            F.col("__sx").cast("bigint").alias("total"),
            F.expr(
                "CAST(1000000 AS DECIMAL(38,0))"
                " * (2 * __ix - (n_rows + 1) * __sx)"
                " div (CAST(n_rows AS DECIMAL(38,0)) * __sx)"
            )
            .cast("bigint")
            .alias("gini_ppm"),
        )
    )


def gini_concentration_sql(
    table_sql: str, group_cols: list[str], value_col: str, order_tiebreak: str
) -> str:
    g = ", ".join(group_cols)
    return f"""
    SELECT {g}, CAST(n AS BIGINT) AS n_rows, CAST(sx AS BIGINT) AS total,
           CAST(1000000 * (2 * ix - (n + 1) * sx) // (n * sx) AS BIGINT) AS gini_ppm
    FROM (
      SELECT {g}, SUM(i * x) AS ix, SUM(x) AS sx, COUNT(*) AS n
      FROM (
        SELECT {g}, CAST({value_col} AS BIGINT) AS x,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY {g} ORDER BY {value_col}, {order_tiebreak}
               ) AS BIGINT) AS i
        FROM ({table_sql})
      ) GROUP BY {g}
    ) WHERE sx > 0 AND n >= 2
    """


def theil_sen_slope(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    id_col: str,
    max_group_rows: int = 256,
) -> DataFrame:
    """Per-group Theil–Sen estimator: the MEDIAN of all pairwise
    slopes ``(y_j - y_i) / (x_j - x_i)`` — the robust trend line
    (up to ~29% outliers) that OLS (``grouped_linreg``) cannot give,
    for drift monitoring on dirty per-source metrics.

    Integer-exact: slopes are scaled ``(1e6 * dy) div dx`` bigints,
    the median is the lower median of that bigint multiset — bit-exact
    across engines (no float division anywhere).  Pairs with equal x
    are skipped (standard Theil–Sen).

    Scale shape: pairwise IS quadratic per group — the operator is for
    per-entity series (a few hundred points), so groups above
    ``max_group_rows`` are dropped up front (reported in the
    companion count column of the profile query, not silently:
    callers see ``n_rows``).  The pair join is group-local (one
    shuffle on the group key); a 100 TB corpus with bounded group
    size stays linear overall.
    """
    gb = [F.col(c) for c in group_cols]
    base = df.select(
        *gb,
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
        F.col(id_col).alias("i"),
    )
    sized = base.join(
        base.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= max_group_rows)
        .select(*group_cols, "__n"),
        group_cols,
    )
    a = sized.select(*group_cols, "x", "y", "i", "__n")
    b = sized.select(
        *group_cols,
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.col("i").alias("i2"),
    )
    slopes = (
        a.join(b, group_cols)
        .filter((F.col("i") < F.col("i2")) & (F.col("x") != F.col("x2")))
        .select(
            *group_cols,
            F.expr("(1000000 * (y2 - y)) div (x2 - x)").alias("s"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy("s")
    ranked = slopes.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy(*group_cols))
    )
    return (
        ranked.filter(F.expr("__rn = (__cnt + 1) div 2"))
        .select(
            *group_cols,
            F.col("s").cast("bigint").alias("slope_ppm"),
            F.col("__cnt").cast("bigint").alias("n_pairs"),
        )
    )


def theil_sen_slope_sql(
    table_sql: str,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    id_col: str,
    max_group_rows: int = 256,
) -> str:
    g = ", ".join(group_cols)
    on = " AND ".join(f"a.{c} = b.{c}" for c in group_cols)
    ga = ", ".join(f"a.{c}" for c in group_cols)
    return f"""
    WITH base AS (
      SELECT {g}, CAST({x_col} AS BIGINT) AS x, CAST({y_col} AS BIGINT) AS y,
             {id_col} AS i
      FROM ({table_sql})
    ),
    sized AS (
      SELECT * FROM base WHERE ({g}) IN (
        SELECT {g} FROM base GROUP BY {g} HAVING COUNT(*) <= {max_group_rows}
      )
    ),
    slopes AS (
      SELECT {ga}, (1000000 * (b.y - a.y)) // (b.x - a.x) AS s
      FROM sized a JOIN sized b ON {on} AND a.i < b.i AND a.x <> b.x
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY {g} ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY {g}) AS cnt
      FROM slopes
    )
    SELECT {g}, CAST(s AS BIGINT) AS slope_ppm, CAST(cnt AS BIGINT) AS n_pairs
    FROM ranked WHERE rn = (cnt + 1) // 2
    """


def cohens_kappa(
    df: DataFrame, rater_a_col: str, rater_b_col: str
) -> DataFrame:
    """Cohen's kappa between two categorical label columns, exact ppm:
    ``kappa = (p_o - p_e) / (1 - p_e)`` over the joint label
    distribution — the chance-corrected agreement score for comparing
    a heuristic classifier against gold labels (or two annotators)
    before trusting either for corpus filtering.

    Integer-exact: with n total rows, ``p_o`` scales to ``n * agree``
    and ``p_e`` to ``sum(row_c * col_c)``; kappa_ppm =
    ``1e6 * (n * agree - sum_rc) div (n^2 - sum_rc)`` in decimal(38)
    — no floats.  One pass for the confusion counts (single shuffle on
    the label pair), marginals derived from it.
    """
    conf = df.select(
        F.col(rater_a_col).alias("la"), F.col(rater_b_col).alias("lb")
    ).groupBy("la", "lb").agg(F.count(F.lit(1)).alias("n"))
    conf = checkpoint(conf)
    ra = conf.groupBy("la").agg(F.sum("n").alias("ra"))
    rb = conf.groupBy("lb").agg(F.sum("n").alias("rb"))
    chance = (
        ra.join(rb, ra.la == rb.lb)
        .agg(
            F.sum(
                F.col("ra").cast("decimal(38,0)") * F.col("rb")
            ).alias("sum_rc")
        )
    )
    totals = conf.agg(
        F.sum("n").cast("decimal(38,0)").alias("n_total"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("n")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("agree"),
    )
    return totals.crossJoin(chance).select(
        F.col("n_total").cast("bigint").alias("n_rows"),
        F.col("agree").cast("bigint").alias("n_agree"),
        F.expr(
            "CAST((1000000 * (n_total * agree - coalesce(sum_rc, 0)))"
            " div (n_total * n_total - coalesce(sum_rc, 0)) AS BIGINT)"
        ).alias("kappa_ppm"),
    )


def cohens_kappa_sql(table_sql: str, rater_a_col: str, rater_b_col: str) -> str:
    return f"""
    WITH conf AS MATERIALIZED (
      SELECT {rater_a_col} AS la, {rater_b_col} AS lb, COUNT(*) AS n
      FROM ({table_sql}) GROUP BY 1, 2
    ),
    chance AS (
      SELECT SUM(ra * rb) AS sum_rc FROM
        (SELECT la, CAST(SUM(n) AS HUGEINT) AS ra FROM conf GROUP BY la) a
        JOIN
        (SELECT lb, CAST(SUM(n) AS HUGEINT) AS rb FROM conf GROUP BY lb) b
        ON a.la = b.lb
    ),
    totals AS (
      SELECT CAST(SUM(n) AS HUGEINT) AS n_total,
             CAST(SUM(CASE WHEN la = lb THEN n ELSE 0 END) AS HUGEINT) AS agree
      FROM conf
    )
    SELECT CAST(n_total AS BIGINT) AS n_rows,
           CAST(agree AS BIGINT) AS n_agree,
           CAST((1000000 * (n_total * agree - COALESCE(sum_rc, 0)))
                // (n_total * n_total - COALESCE(sum_rc, 0)) AS BIGINT)
             AS kappa_ppm
    FROM totals, chance
    """


def smoothed_rate(
    df: DataFrame,
    group_cols: list[str],
    success_col: str,
    prior_ppm: int,
    prior_weight: int = 100,
) -> DataFrame:
    """Dirichlet-smoothed per-group success rate, exact ppm:
    ``(1e6 * successes + prior_ppm * prior_weight) div
    (n + prior_weight)`` — the Bayesian shrinkage that stops a
    3-document domain with 3 passes from outranking a 10^6-document
    domain at 99.9% (the domain-reputation ranking every curation
    pipeline needs before per-domain keep/drop decisions).

    ``success_col`` is any 0/1 integer gate.  One aggregation, all
    bigint; groups shrink toward ``prior_ppm`` as n -> 0 and toward
    their empirical rate as n -> inf.
    """
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(success_col).cast("bigint")).alias("n_success"),
        )
        .select(
            *group_cols,
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_success").cast("bigint").alias("n_success"),
            F.expr(
                f"(1000000 * n_success + {prior_ppm}L * {prior_weight})"
                f" div (n_rows + {prior_weight})"
            )
            .cast("bigint")
            .alias("rate_smoothed_ppm"),
            F.expr("1000000 * n_success div n_rows")
            .cast("bigint")
            .alias("rate_raw_ppm"),
        )
    )


def smoothed_rate_sql(
    table_sql: str,
    group_cols: list[str],
    success_col: str,
    prior_ppm: int,
    prior_weight: int = 100,
) -> str:
    g = ", ".join(group_cols)
    return f"""
    SELECT {g},
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({success_col}) AS BIGINT) AS n_success,
           CAST((1000000 * SUM({success_col})
                 + {prior_ppm}::BIGINT * {prior_weight})
                // (COUNT(*) + {prior_weight}) AS BIGINT)
             AS rate_smoothed_ppm,
           CAST(1000000 * SUM({success_col}) // COUNT(*) AS BIGINT)
             AS rate_raw_ppm
    FROM ({table_sql}) GROUP BY {g}
    """


# The z-statistic finish as ONE shared SQL expression string: both
# engines evaluate the identical fixed IEEE double-op sequence over the
# four exact integer counts (the chi-squared/linreg precedent — only
# float SUMS are cross-engine-unsafe; sqrt and divide are correctly
# rounded). 1.959963984540054 is repr() of the exact double for the
# 95% two-sided normal quantile.

# SRM (sample-ratio-mismatch) gate: under a 50/50 split the variant
# counts are Binomial(n, 1/2); srm_z = (n_b - n_a) / sqrt(n_a + n_b)
# is the exact normal approximation z. |srm_z| >= 3.89 (~1e-4
# two-sided) is the standard "randomization is broken, do not read the
# metric" tripwire. Same fixed-IEEE-sequence contract as the z score.
_SRM_Z_EXPR = (
    "(CAST(n_b AS DOUBLE) - CAST(n_a AS DOUBLE))"
    " / NULLIF(SQRT(CAST(n_a + n_b AS DOUBLE)), 0.0)"
)

# every denominator NULLIF-guarded: a segment missing a variant arm
# (the grouped form) or a degenerate pooled rate must yield NULL, not
# an ANSI divide-by-zero crash; NULLIF(x, 0.0) is the identity on
# every non-degenerate input, so the IEEE sequence is unchanged.
_AB_Z_EXPR = (
    "(CAST(conv_b AS DOUBLE) / NULLIF(CAST(n_b AS DOUBLE), 0.0)"
    " - CAST(conv_a AS DOUBLE) / NULLIF(CAST(n_a AS DOUBLE), 0.0))"
    " / NULLIF(SQRT((CAST(conv_a + conv_b AS DOUBLE)"
    "         / NULLIF(CAST(n_a + n_b AS DOUBLE), 0.0))"
    "        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)"
    "                 / NULLIF(CAST(n_a + n_b AS DOUBLE), 0.0))"
    "        * (1.0 / NULLIF(CAST(n_a AS DOUBLE), 0.0)"
    "           + 1.0 / NULLIF(CAST(n_b AS DOUBLE), 0.0)))"
    ", 0.0)"
)


def ab_test_two_proportion(
    units: DataFrame,
    variant_col: str = "variant",
    convert_col: str = "converted",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Two-proportion A/B test readout: per-variant unit and conversion
    counts, exact ppm rates, the lift, and the pooled two-proportion
    z-statistic — the experiment-analysis primitive every product
    pipeline runs over its event stream.

    ``units`` is one row per experimental UNIT (already deduplicated —
    a user counted twice corrupts the variance): ``variant_col`` is
    0/1, ``convert_col`` is 0/1. One aggregation to a single row;
    counts and rates are exact integers, the z-score is a fixed
    IEEE double-op sequence over those integers (cross-engine exact —
    the chi-squared precedent), and ``significant`` gates |z| at the
    exact double 1.959963984540054 (two-sided 95%). ``srm_z`` /
    ``srm_broken`` carry the sample-ratio-mismatch tripwire (|z| of
    the split vs 50/50 at the ~1e-4 two-sided gate): an experiment
    with broken randomization must be flagged BEFORE anyone reads the
    metric z.

    ``group_cols`` turns the single-row readout into a per-segment
    table (heterogeneous treatment effects: one z per market segment /
    country / platform) — identical arithmetic per group, NULL z for
    a segment missing a variant arm.

    Scale shape: one partial-aggregated agg (global or keyed) — no
    shuffle wider than four counters per group. NULL z (a variant with
    zero units) is the caller's data bug; every denominator is
    NULLIF-guarded in BOTH the global and per-segment forms, so a
    degenerate arm yields NULL rates/z and ``significant = 0`` (CASE
    WHEN NULL falls through to ELSE) rather than an ANSI error —
    matching the streaming twin's 0 bit-for-bit (pinned by
    ``tests/test_streaming.py::test_streaming_ab_monitor_degenerate_arm``).
    """
    aggs = (
        F.sum(F.when(F.col(variant_col) == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col(variant_col) == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            F.when(F.col(variant_col) == 0, F.col(convert_col)).otherwise(0)
        )
        .cast("bigint")
        .alias("conv_a"),
        F.sum(
            F.when(F.col(variant_col) == 1, F.col(convert_col)).otherwise(0)
        )
        .cast("bigint")
        .alias("conv_b"),
    )
    if group_cols:
        one = units.groupBy(*group_cols).agg(*aggs)
    else:
        one = units.agg(*aggs)
    return one.selectExpr(
        *(group_cols or []),
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        "CAST(1000000 * conv_a DIV NULLIF(n_a, 0) AS BIGINT) AS rate_a_ppm",
        "CAST(1000000 * conv_b DIV NULLIF(n_b, 0) AS BIGINT) AS rate_b_ppm",
        "CAST(1000000 * conv_b DIV NULLIF(n_b, 0)"
        " - 1000000 * conv_a DIV NULLIF(n_a, 0) AS BIGINT) AS lift_ppm",
        f"{_AB_Z_EXPR} AS z",
        f"CAST(CASE WHEN ABS({_AB_Z_EXPR}) >= 1.959963984540054"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant",
        f"{_SRM_Z_EXPR} AS srm_z",
        f"CAST(CASE WHEN ABS({_SRM_Z_EXPR}) >= 3.890591886413094"
        " THEN 1 ELSE 0 END AS BIGINT) AS srm_broken",
    )


def ab_test_two_proportion_sql(
    units_sql: str,
    variant_col: str = "variant",
    convert_col: str = "converted",
    group_cols: list[str] | None = None,
) -> str:
    """DuckDB mirror — the identical counting and the VERBATIM z
    expression (shared text, shared double sequence); ``group_cols``
    mirrors the per-segment form."""
    g = ", ".join(group_cols) + ", " if group_cols else ""
    gby = f"GROUP BY {', '.join(group_cols)}" if group_cols else ""
    return f"""
    WITH one AS (
      SELECT {g}
        CAST(SUM(CASE WHEN {variant_col} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN {variant_col} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN {variant_col} = 0 THEN {convert_col} ELSE 0 END)
             AS BIGINT) AS conv_a,
        CAST(SUM(CASE WHEN {variant_col} = 1 THEN {convert_col} ELSE 0 END)
             AS BIGINT) AS conv_b
      FROM ({units_sql}) {gby}
    )
    SELECT {g}n_a, n_b, conv_a, conv_b,
           CAST(1000000 * conv_a // NULLIF(n_a, 0) AS BIGINT) AS rate_a_ppm,
           CAST(1000000 * conv_b // NULLIF(n_b, 0) AS BIGINT) AS rate_b_ppm,
           CAST(1000000 * conv_b // NULLIF(n_b, 0)
                - 1000000 * conv_a // NULLIF(n_a, 0) AS BIGINT) AS lift_ppm,
           {_AB_Z_EXPR} AS z,
           CAST(CASE WHEN ABS({_AB_Z_EXPR}) >= 1.959963984540054
                THEN 1 ELSE 0 END AS BIGINT) AS significant,
           {_SRM_Z_EXPR} AS srm_z,
           CAST(CASE WHEN ABS({_SRM_Z_EXPR}) >= 3.890591886413094
                THEN 1 ELSE 0 END AS BIGINT) AS srm_broken
    FROM one
    """


# O'Brien-Fleming-shaped group-sequential boundary (Lan-DeMets
# approximation): at interim look k of K the |z| threshold is
# z_{alpha/2} * sqrt(K / k) — very conservative early, converging to
# the fixed-horizon gate at the final look. Shared as literal doubles
# + SQRT over exact integers, so both engines and the streaming twin
# compute the identical IEEE value.
_OBF_BOUNDARY_EXPR = (
    "1.959963984540054"
    " * SQRT(CAST({k_looks} AS DOUBLE) / CAST(look AS DOUBLE))"
)

_SEQ_CUM = (
    "SUM({c}) OVER (ORDER BY look"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def _seq_finish_exprs(k_looks: int) -> list[str]:
    """The shared per-look finish over the K-row look table: cumulative
    counters, the pooled z over them (the verbatim _AB_Z_EXPR), the OBF
    boundary, the crossing bit, and the cumulative stopped bit. One
    string list, selected on Spark and spliced into the DuckDB mirror —
    the shared-engine-SQL-text convention."""
    cum = {
        c: f"CAST({_SEQ_CUM.format(c=c)} AS BIGINT)"
        for c in ("n_a", "n_b", "conv_a", "conv_b")
    }
    z = _AB_Z_EXPR
    for c, e in cum.items():
        z = z.replace(c, e)
    boundary = _OBF_BOUNDARY_EXPR.format(k_looks=k_looks)
    crossed = (
        f"CAST(CASE WHEN ABS({z}) >= {boundary} THEN 1 ELSE 0 END AS BIGINT)"
    )
    return [
        "CAST(look AS BIGINT) AS look",
        f"{cum['n_a']} AS n_a",
        f"{cum['n_b']} AS n_b",
        f"{cum['conv_a']} AS conv_a",
        f"{cum['conv_b']} AS conv_b",
        f"{z} AS z",
        f"{boundary} AS boundary",
        f"{crossed} AS crossed",
    ]


# Second window layer (a window over `crossed` cannot nest inside the
# same SELECT that computes it): the cumulative early-stop flag.
_SEQ_STOPPED_EXPR = (
    "CAST(MAX(crossed) OVER (ORDER BY look"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    " AS BIGINT) AS stopped"
)


def sequential_ab_looks(
    units: DataFrame,
    ts_us_min: int,
    ts_us_max: int,
    k_looks: int = 8,
    ts_us_col: str = "ts_us",
    variant_col: str = "variant",
    convert_col: str = "converted",
) -> DataFrame:
    """Group-sequential A/B monitoring table: the experiment's span is
    split into ``k_looks`` calendar interim analyses (the scheduled
    looks an experimentation platform actually runs), and each look
    reports the CUMULATIVE per-variant counters, the pooled
    two-proportion z over them, the O'Brien-Fleming-shaped
    alpha-spending boundary ``z_.025 * sqrt(K/k)``, whether this look
    crosses it, and the cumulative early-stop flag — the guardrail
    that makes peeking at a running experiment statistically legal.

    ``ts_us_min`` / ``ts_us_max`` are driver literals (epoch micros of
    the observation span — the gains_table bounded-scalar pattern;
    scalar subqueries in the oracle). Look assignment is pure integer
    arithmetic per unit: ``least(K, 1 + (ts - min) * K DIV span)`` —
    cross-engine exact, no global sort. Everything downstream of the
    one keyed aggregation is a window over the K-row look table
    (allowlisted bounded frame); z and boundary are fixed IEEE double
    sequences over exact integers shared as SQL text with the oracle
    AND with the streaming twin
    (:func:`cosmos_xenna_spark.streaming.streaming_sequential_ab`).

    Scale shape: one map-side-combined groupBy to <= K rows, then
    K-row windows — nothing wider than four counters per look ever
    shuffles, at any corpus size.
    """
    span = int(ts_us_max) - int(ts_us_min) + 1
    look = (
        f"LEAST(CAST({k_looks} AS BIGINT), 1 + (({ts_us_col} -"
        f" ({int(ts_us_min)})) * {k_looks}) DIV {span})"
    )
    per_look = (
        units.selectExpr(
            f"{look} AS look",
            f"{variant_col} AS __v",
            f"{convert_col} AS __c",
        )
        .groupBy("look")
        .agg(
            F.sum(F.when(F.col("__v") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("__v") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("__v") == 0, F.col("__c")).otherwise(0))
            .cast("bigint")
            .alias("conv_a"),
            F.sum(F.when(F.col("__v") == 1, F.col("__c")).otherwise(0))
            .cast("bigint")
            .alias("conv_b"),
        )
    )
    return per_look.selectExpr(*_seq_finish_exprs(k_looks)).selectExpr(
        "*", _SEQ_STOPPED_EXPR
    )


def sequential_ab_looks_sql(
    units_sql: str,
    ts_us_min_sql: str,
    ts_us_max_sql: str,
    k_looks: int = 8,
    ts_us_col: str = "ts_us",
    variant_col: str = "variant",
    convert_col: str = "converted",
) -> str:
    """DuckDB mirror — identical counting, the VERBATIM cumulative-z /
    boundary finish (``//`` for ``DIV``), span bounds as scalar
    subqueries where the Spark side bakes driver literals."""
    finish = ",\n           ".join(
        e.replace(" DIV ", " // ") for e in _seq_finish_exprs(k_looks)
    )
    return f"""
    WITH bounds AS (
      SELECT ({ts_us_min_sql}) AS mn, ({ts_us_max_sql}) AS mx
    ),
    per_look AS (
      SELECT LEAST(CAST({k_looks} AS BIGINT),
                   1 + (({ts_us_col} - mn) * {k_looks}) // (mx - mn + 1))
               AS look,
             CAST(SUM(CASE WHEN {variant_col} = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN {variant_col} = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN {variant_col} = 0 THEN {convert_col}
                      ELSE 0 END) AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN {variant_col} = 1 THEN {convert_col}
                      ELSE 0 END) AS BIGINT) AS conv_b
      FROM ({units_sql}), bounds
      GROUP BY 1
    )
    SELECT *, {_SEQ_STOPPED_EXPR.replace(" DIV ", " // ")}
    FROM (SELECT {finish} FROM per_look)
    """


# Fixed-horizon power constants as exact shared double literals:
# two-sided alpha = 0.05 and power = 0.80 (z_{0.975}, z_{0.80}).
_Z_ALPHA_2 = "1.959963984540054"
_Z_BETA = "0.8416212335729143"


def _mde_exprs(rel_lift_ppm: int) -> list[str]:
    """Shared finish for the power/MDE planning table: baseline rate,
    the absolute + relative minimum detectable effect at the observed
    per-arm size, and the required per-arm n to detect a
    ``rel_lift_ppm`` relative lift — all fixed IEEE double sequences
    over the exact (n, conv) integers."""
    p = "(CAST(conv AS DOUBLE) / NULLIF(CAST(n AS DOUBLE), 0.0))"
    n_arm = "CAST(n DIV 2 AS BIGINT)"
    mde = (
        f"(({_Z_ALPHA_2} + {_Z_BETA})"
        f" * SQRT(2.0 * {p} * (1.0 - {p})"
        f" / NULLIF(CAST({n_arm} AS DOUBLE), 0.0)))"
    )
    delta = f"({p} * ({rel_lift_ppm}.0 / 1000000.0))"
    n_req = (
        f"(({_Z_ALPHA_2} + {_Z_BETA}) * ({_Z_ALPHA_2} + {_Z_BETA})"
        f" * 2.0 * {p} * (1.0 - {p})"
        f" / NULLIF({delta} * {delta}, 0.0))"
    )
    return [
        "CAST(n AS BIGINT) AS n",
        "CAST(conv AS BIGINT) AS conv",
        "CAST(1000000 * conv DIV NULLIF(n, 0) AS BIGINT) AS rate_ppm",
        f"{n_arm} AS n_arm",
        f"{mde} AS mde_abs",
        f"({mde} / NULLIF({p}, 0.0)) AS mde_rel",
        # ceil as -floor(-x): FLOOR yields an exact-integer double, so
        # the BIGINT cast agrees across engines (DuckDB's double cast
        # rounds, Spark's truncates — identical on integer values).
        f"CAST(0.0 - FLOOR(0.0 - {n_req}) AS BIGINT) AS n_req_per_arm",
    ]


def power_mde_table(
    units: DataFrame,
    group_cols: list[str] | None = None,
    convert_col: str = "converted",
    rel_lift_ppm: int = 50_000,
) -> DataFrame:
    """Experiment planning table: per segment (or globally), from the
    observed unit count and baseline conversion rate, the minimum
    detectable effect of a 50/50 two-proportion test at two-sided
    alpha 0.05 / power 0.80 — ``mde_abs = (z_a + z_b) *
    sqrt(2 p (1-p) / n_arm)`` — plus the required per-arm sample size
    to detect a ``rel_lift_ppm`` relative lift. The "is this segment
    even worth experimenting on" readout that precedes every A/B test.

    One map-side-combined aggregation to (n, conv) per group; the
    finish is a fixed IEEE double sequence over those exact integers,
    shared as SQL text with the oracle. Degenerate segments (n = 0,
    p = 0, p = 1) yield NULL MDE via NULLIF, never an ANSI crash.
    """
    aggs = (
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(convert_col).cast("bigint").alias("conv"),
    )
    one = units.groupBy(*group_cols).agg(*aggs) if group_cols else units.agg(*aggs)
    return one.selectExpr(*(group_cols or []), *_mde_exprs(rel_lift_ppm))


def power_mde_table_sql(
    units_sql: str,
    group_cols: list[str] | None = None,
    convert_col: str = "converted",
    rel_lift_ppm: int = 50_000,
) -> str:
    """DuckDB mirror — identical counting and the verbatim MDE finish
    (``//`` for ``DIV``)."""
    g = ", ".join(group_cols) + ", " if group_cols else ""
    gby = f"GROUP BY {', '.join(group_cols)}" if group_cols else ""
    finish = ",\n           ".join(
        e.replace(" DIV ", " // ") for e in _mde_exprs(rel_lift_ppm)
    )
    return f"""
    WITH one AS (
      SELECT {g}
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM({convert_col}) AS BIGINT) AS conv
      FROM ({units_sql}) {gby}
    )
    SELECT {g}{finish}
    FROM one
    """


def cuped_moments(
    units: DataFrame,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance-reduction accounting from exact integer moments:
    with X = a unit's PRE-experiment metric and Y its in-experiment
    metric, the CUPED adjustment ``Y - theta * (X - mean(X))`` with
    ``theta = cov(X, Y) / var(X)`` shrinks metric variance by exactly
    ``corr(X, Y)^2`` — the standard experimentation-platform trick
    (Deng et al., WSDM 2013) that cuts required sample sizes.

    Everything stays integer-exact: centered second moments as
    ``n*Sxy - Sx*Sy`` in DECIMAL(38), ``theta_micro = 1e6 * sxy DIV
    sxx``, and ``var_reduction_ppm = 1e6 * sxy^2 DIV (sxx * syy)`` —
    no float anywhere. One aggregation pass.

    Scale note (the ``t_closeness`` convention): ``sxy^2`` overflows
    DECIMAL(38) once |n*Sxy - Sx*Sy| exceeds ~1e16 (about 1e9 units
    with per-unit metrics in the hundreds); past that line divide the
    moments by gcd-scale factors or widen through a string round-trip.
    """
    x = F.col(pre_col).cast("decimal(38,0)")
    y = F.col(post_col).cast("decimal(38,0)")
    raw = units.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * F.col(pre_col)).alias("sxx_raw"),
        F.sum(x * F.col(post_col)).alias("sxy_raw"),
        F.sum(y * F.col(post_col)).alias("syy_raw"),
    )
    return raw.selectExpr(
        "CAST(n AS BIGINT) AS n_units",
        "CAST(n * sxx_raw - sx * sx AS BIGINT) AS sxx",
        "CAST(n * sxy_raw - sx * sy AS BIGINT) AS sxy",
        "CAST(n * syy_raw - sy * sy AS BIGINT) AS syy",
        "CAST((1000000 * (n * sxy_raw - sx * sy))"
        " DIV NULLIF(n * sxx_raw - sx * sx, 0) AS BIGINT) AS theta_micro",
        "CAST((1000000 * (n * sxy_raw - sx * sy) * (n * sxy_raw - sx * sy))"
        " DIV NULLIF((n * sxx_raw - sx * sx) * (n * syy_raw - sy * sy), 0)"
        " AS BIGINT) AS var_reduction_ppm",
    )


def cuped_moments_sql(units_sql: str, pre_col: str, post_col: str) -> str:
    """DuckDB mirror — HUGEINT carries the centered moments exactly."""
    return f"""
    WITH raw AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM({pre_col}) AS HUGEINT) AS sx,
             CAST(SUM({post_col}) AS HUGEINT) AS sy,
             CAST(SUM(CAST({pre_col} AS HUGEINT) * {pre_col}) AS HUGEINT)
               AS sxx_raw,
             CAST(SUM(CAST({pre_col} AS HUGEINT) * {post_col}) AS HUGEINT)
               AS sxy_raw,
             CAST(SUM(CAST({post_col} AS HUGEINT) * {post_col}) AS HUGEINT)
               AS syy_raw
      FROM ({units_sql})
    )
    SELECT CAST(n AS BIGINT) AS n_units,
           CAST(n * sxx_raw - sx * sx AS BIGINT) AS sxx,
           CAST(n * sxy_raw - sx * sy AS BIGINT) AS sxy,
           CAST(n * syy_raw - sy * sy AS BIGINT) AS syy,
           CAST((1000000 * (n * sxy_raw - sx * sy))
                // NULLIF(n * sxx_raw - sx * sx, 0) AS BIGINT) AS theta_micro,
           CAST((1000000 * (n * sxy_raw - sx * sy) * (n * sxy_raw - sx * sy))
                // NULLIF((n * sxx_raw - sx * sx) * (n * syy_raw - sy * sy), 0)
                AS BIGINT) AS var_reduction_ppm
    FROM raw
    """


def did_estimator(
    units: DataFrame,
    variant_col: str = "variant",
    pre_col: str = "pre_metric",
    post_col: str = "post_metric",
) -> DataFrame:
    """Difference-in-differences point estimate, integer-exact: with
    treatment/control groups (``variant_col`` 1/0) and a per-unit
    integer metric before and after the intervention,

        DiD = (mean_post_T - mean_pre_T) - (mean_post_C - mean_pre_C)

    computed as ONE exact rational over the common denominator
    ``n_t * n_c`` and floored to micro-units:
    ``1e6 * ((Spost_t - Spre_t) * n_c - (Spost_c - Spre_c) * n_t)
    DIV (n_t * n_c)`` — a single truncation instead of four mean
    floors, no float anywhere. The parallel-trends readout every
    quasi-experimental launch analysis starts from when randomized
    assignment isn't available.

    One aggregation to a single row (partial-combined counters only).
    DECIMAL(38) headroom: the cross product ``S * n`` overflows past
    ~1e19 units x metric — the t_closeness convention applies.
    """
    t = F.col(variant_col) == 1
    raw = units.agg(
        F.sum(F.when(t, 1).otherwise(0)).cast("decimal(38,0)").alias("n_t"),
        F.sum(F.when(~t, 1).otherwise(0)).cast("decimal(38,0)").alias("n_c"),
        F.sum(F.when(t, F.col(pre_col)).otherwise(0))
        .cast("decimal(38,0)")
        .alias("spre_t"),
        F.sum(F.when(t, F.col(post_col)).otherwise(0))
        .cast("decimal(38,0)")
        .alias("spost_t"),
        F.sum(F.when(~t, F.col(pre_col)).otherwise(0))
        .cast("decimal(38,0)")
        .alias("spre_c"),
        F.sum(F.when(~t, F.col(post_col)).otherwise(0))
        .cast("decimal(38,0)")
        .alias("spost_c"),
    )
    return raw.selectExpr(
        "CAST(n_t AS BIGINT) AS n_treat",
        "CAST(n_c AS BIGINT) AS n_ctrl",
        "CAST(spre_t AS BIGINT) AS sum_pre_treat",
        "CAST(spost_t AS BIGINT) AS sum_post_treat",
        "CAST(spre_c AS BIGINT) AS sum_pre_ctrl",
        "CAST(spost_c AS BIGINT) AS sum_post_ctrl",
        "CAST((1000000 * ((spost_t - spre_t) * n_c - (spost_c - spre_c) * n_t))"
        " DIV NULLIF(n_t * n_c, 0) AS BIGINT) AS did_micro",
    )


def did_estimator_sql(
    units_sql: str,
    variant_col: str = "variant",
    pre_col: str = "pre_metric",
    post_col: str = "post_metric",
) -> str:
    return f"""
    WITH raw AS (
      SELECT
        CAST(SUM(CASE WHEN {variant_col} = 1 THEN 1 ELSE 0 END) AS HUGEINT)
          AS n_t,
        CAST(SUM(CASE WHEN {variant_col} <> 1 THEN 1 ELSE 0 END) AS HUGEINT)
          AS n_c,
        CAST(SUM(CASE WHEN {variant_col} = 1 THEN {pre_col} ELSE 0 END)
             AS HUGEINT) AS spre_t,
        CAST(SUM(CASE WHEN {variant_col} = 1 THEN {post_col} ELSE 0 END)
             AS HUGEINT) AS spost_t,
        CAST(SUM(CASE WHEN {variant_col} <> 1 THEN {pre_col} ELSE 0 END)
             AS HUGEINT) AS spre_c,
        CAST(SUM(CASE WHEN {variant_col} <> 1 THEN {post_col} ELSE 0 END)
             AS HUGEINT) AS spost_c
      FROM ({units_sql})
    )
    SELECT CAST(n_t AS BIGINT) AS n_treat,
           CAST(n_c AS BIGINT) AS n_ctrl,
           CAST(spre_t AS BIGINT) AS sum_pre_treat,
           CAST(spost_t AS BIGINT) AS sum_post_treat,
           CAST(spre_c AS BIGINT) AS sum_pre_ctrl,
           CAST(spost_c AS BIGINT) AS sum_post_ctrl,
           CAST((1000000 * ((spost_t - spre_t) * n_c - (spost_c - spre_c) * n_t))
                // NULLIF(n_t * n_c, 0) AS BIGINT) AS did_micro
    FROM raw
    """


# Delta-method finish for a ratio-of-sums metric, as shared SQL text
# over the six exact integer moments (n, sx, sy, sxx, sxy, syy). Every
# decimal/HUGEINT -> DOUBLE conversion routes through a STRING
# round-trip (strtod is correctly rounded in both engines; a direct
# DECIMAL->DOUBLE cast is NOT once the unscaled value passes 2^53 —
# the dsum convention).
_RATIO_LAYER1 = [
    "CAST(n AS BIGINT) AS n_units",
    "CAST(sx AS BIGINT) AS sum_num",
    "CAST(sy AS BIGINT) AS sum_den",
    "CAST(CAST(sx AS STRING) AS DOUBLE)"
    " / CAST(CAST(sy AS STRING) AS DOUBLE) AS ratio",
    "CAST(CAST(sy AS STRING) AS DOUBLE)"
    " / CAST(CAST(n AS STRING) AS DOUBLE) AS my",
    "CAST(CAST(n * sxx_raw - sx * sx AS STRING) AS DOUBLE)"
    " / (CAST(CAST(n AS STRING) AS DOUBLE)"
    " * CAST(CAST(NULLIF(n - 1, 0) AS STRING) AS DOUBLE)) AS vx",
    "CAST(CAST(n * sxy_raw - sx * sy AS STRING) AS DOUBLE)"
    " / (CAST(CAST(n AS STRING) AS DOUBLE)"
    " * CAST(CAST(NULLIF(n - 1, 0) AS STRING) AS DOUBLE)) AS cxy",
    "CAST(CAST(n * syy_raw - sy * sy AS STRING) AS DOUBLE)"
    " / (CAST(CAST(n AS STRING) AS DOUBLE)"
    " * CAST(CAST(NULLIF(n - 1, 0) AS STRING) AS DOUBLE)) AS vy",
]
_RATIO_SE = (
    "SQRT((vx - 2.0 * ratio * cxy + ratio * ratio * vy)"
    " / CAST(CAST(n_units AS STRING) AS DOUBLE)) / my"
)
_RATIO_LAYER2 = [
    "n_units",
    "sum_num",
    "sum_den",
    "ratio",
    f"{_RATIO_SE} AS se",
    f"ratio - 1.959963984540054 * ({_RATIO_SE}) AS ci_lo",
    f"ratio + 1.959963984540054 * ({_RATIO_SE}) AS ci_hi",
]


def ratio_metric_delta(
    units: DataFrame,
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Delta-method standard error and 95% CI for a RATIO-of-sums
    metric (CTR, purchases-per-session, tokens-per-doc): the unit of
    randomization is the user but the metric is sum(x)/sum(y), so the
    naive binomial variance is wrong — the classic experimentation-
    platform correction (Deng et al., KDD 2017 "ratio metrics"):

        Var(R) ~ (var_x - 2 R cov_xy + R^2 var_y) / (n * mean_y^2)

    Everything derives from six exact integer moments in one
    aggregation; the finish is a fixed IEEE double sequence SHARED as
    SQL text between engines, with every wide-integer -> double
    conversion routed through a STRING round-trip (the dsum
    convention). ``n=1`` or ``sum_den=0`` yield NULL se/CI loudly
    rather than a wrong number.
    """
    x = F.col(num_col).cast("decimal(38,0)")
    y = F.col(den_col).cast("decimal(38,0)")
    raw = units.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * F.col(num_col)).alias("sxx_raw"),
        F.sum(x * F.col(den_col)).alias("sxy_raw"),
        F.sum(y * F.col(den_col)).alias("syy_raw"),
    )
    return raw.selectExpr(*_RATIO_LAYER1).selectExpr(*_RATIO_LAYER2)


def ratio_metric_delta_sql(units_sql: str, num_col: str, den_col: str) -> str:
    layer1 = ", ".join(_RATIO_LAYER1)
    layer2 = ", ".join(_RATIO_LAYER2)
    return f"""
    WITH raw AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM({num_col}) AS HUGEINT) AS sx,
             CAST(SUM({den_col}) AS HUGEINT) AS sy,
             CAST(SUM(CAST({num_col} AS HUGEINT) * {num_col}) AS HUGEINT)
               AS sxx_raw,
             CAST(SUM(CAST({num_col} AS HUGEINT) * {den_col}) AS HUGEINT)
               AS sxy_raw,
             CAST(SUM(CAST({den_col} AS HUGEINT) * {den_col}) AS HUGEINT)
               AS syy_raw
      FROM ({units_sql})
    ),
    layer1 AS (SELECT {layer1} FROM raw)
    SELECT {layer2} FROM layer1
    """


def multiclass_f1(
    preds: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "predicted",
) -> DataFrame:
    """Multi-class precision/recall/F1 table + macro and micro
    summary rows — the classifier-eval readout for multi-class
    heuristics (language ID, quality tiers, topic routing) that the
    binary PR/ROC family can't express.

    Classes are the labels PRESENT IN GOLD (the sklearn convention:
    a label that is only ever predicted contributes fp to nothing —
    its rows count as fn for their gold class). Per class: exact
    integer tp/fp/fn and ppm ratios (``f1 = 2tp / (2tp+fp+fn)`` — the
    harmonic mean without intermediate division). Two synthetic rows
    close the table: ``__macro__`` (unweighted integer mean of the
    per-class ppms — each DIV truncation happens exactly once per
    class, then once for the mean, mirrored in the oracle) and
    ``__micro__`` (pooled counts; micro-P equals micro-R only when
    every prediction is a tracked class — a predicted-only label
    absorbs predictions and the pooled fp/fn diverge).

    Scale shape: one (gold, pred) confusion aggregation (map-side
    combined, vocabulary-sized output), everything after runs on the
    confusion frame — class-count scale, not corpus scale.
    """
    conf = checkpoint(
        preds.select(
            F.col(gold_col).cast("string").alias("g"),
            F.col(pred_col).cast("string").alias("p"),
        )
        .groupBy("g", "p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    classes = conf.select(F.col("g").alias("cls")).distinct()
    tp = conf.filter(F.col("g") == F.col("p")).select(
        F.col("g").alias("cls"), F.col("n").alias("tp")
    )
    fp = (
        conf.filter(F.col("g") != F.col("p"))
        .groupBy(F.col("p").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("fp"))
    )
    fn = (
        conf.filter(F.col("g") != F.col("p"))
        .groupBy(F.col("g").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("fn"))
    )
    per_class = checkpoint(
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("bigint").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("bigint").alias("fn"),
        )
        .selectExpr(
            "cls",
            "tp",
            "fp",
            "fn",
            "CAST(1000000 * tp DIV NULLIF(tp + fp, 0) AS BIGINT)"
            " AS precision_ppm",
            "CAST(1000000 * tp DIV NULLIF(tp + fn, 0) AS BIGINT)"
            " AS recall_ppm",
            "CAST(2000000 * tp DIV NULLIF(2 * tp + fp + fn, 0) AS BIGINT)"
            " AS f1_ppm",
        )
    )
    macro = per_class.selectExpr(
        "'__macro__' AS cls",
        "CAST(SUM(tp) AS BIGINT) AS tp",
        "CAST(SUM(fp) AS BIGINT) AS fp",
        "CAST(SUM(fn) AS BIGINT) AS fn",
        "CAST(SUM(COALESCE(precision_ppm, 0)) DIV COUNT(*) AS BIGINT)"
        " AS precision_ppm",
        "CAST(SUM(COALESCE(recall_ppm, 0)) DIV COUNT(*) AS BIGINT)"
        " AS recall_ppm",
        "CAST(SUM(COALESCE(f1_ppm, 0)) DIV COUNT(*) AS BIGINT) AS f1_ppm",
    )
    micro = per_class.selectExpr(
        "'__micro__' AS cls",
        "CAST(SUM(tp) AS BIGINT) AS tp",
        "CAST(SUM(fp) AS BIGINT) AS fp",
        "CAST(SUM(fn) AS BIGINT) AS fn",
        "CAST(1000000 * SUM(tp) DIV NULLIF(SUM(tp) + SUM(fp), 0) AS BIGINT)"
        " AS precision_ppm",
        "CAST(1000000 * SUM(tp) DIV NULLIF(SUM(tp) + SUM(fn), 0) AS BIGINT)"
        " AS recall_ppm",
        "CAST(2000000 * SUM(tp) DIV NULLIF(2 * SUM(tp) + SUM(fp) + SUM(fn), 0)"
        " AS BIGINT) AS f1_ppm",
    )
    return per_class.unionByName(macro).unionByName(micro)


def multiclass_f1_sql(
    preds_sql: str, gold_col: str = "gold", pred_col: str = "predicted"
) -> str:
    return f"""
    WITH conf AS MATERIALIZED (
      SELECT CAST({gold_col} AS VARCHAR) AS g, CAST({pred_col} AS VARCHAR) AS p,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ({preds_sql}) GROUP BY 1, 2
    ),
    per_class AS MATERIALIZED (
      SELECT cls, tp, fp, fn,
             CAST(1000000 * tp // NULLIF(tp + fp, 0) AS BIGINT) AS precision_ppm,
             CAST(1000000 * tp // NULLIF(tp + fn, 0) AS BIGINT) AS recall_ppm,
             CAST(2000000 * tp // NULLIF(2 * tp + fp + fn, 0) AS BIGINT) AS f1_ppm
      FROM (
        SELECT c.cls,
               CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
               CAST(COALESCE(f1.fp, 0) AS BIGINT) AS fp,
               CAST(COALESCE(f2.fn, 0) AS BIGINT) AS fn
        FROM (SELECT DISTINCT g AS cls FROM conf) c
        LEFT JOIN (SELECT g AS cls, n AS tp FROM conf WHERE g = p) t
          ON t.cls = c.cls
        LEFT JOIN (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS fp FROM conf
                   WHERE g <> p GROUP BY p) f1 ON f1.cls = c.cls
        LEFT JOIN (SELECT g AS cls, CAST(SUM(n) AS BIGINT) AS fn FROM conf
                   WHERE g <> p GROUP BY g) f2 ON f2.cls = c.cls
      )
    )
    SELECT * FROM per_class
    UNION ALL
    SELECT '__macro__', CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
           CAST(SUM(fn) AS BIGINT),
           CAST(SUM(COALESCE(precision_ppm, 0)) // COUNT(*) AS BIGINT),
           CAST(SUM(COALESCE(recall_ppm, 0)) // COUNT(*) AS BIGINT),
           CAST(SUM(COALESCE(f1_ppm, 0)) // COUNT(*) AS BIGINT)
    FROM per_class
    UNION ALL
    SELECT '__micro__', CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT),
           CAST(SUM(fn) AS BIGINT),
           CAST(1000000 * SUM(tp) // NULLIF(SUM(tp) + SUM(fp), 0) AS BIGINT),
           CAST(1000000 * SUM(tp) // NULLIF(SUM(tp) + SUM(fn), 0) AS BIGINT),
           CAST(2000000 * SUM(tp) // NULLIF(2 * SUM(tp) + SUM(fp) + SUM(fn), 0)
                AS BIGINT)
    FROM per_class
    """


# Mann-Whitney finish as shared SQL text over the five exact integers
# (u2 = 2U, n_a, n_b, n_all, tie_sum): the tie-corrected normal
# approximation z = (U - n_a*n_b/2) / sqrt(Var), with
# Var = n_a*n_b/12 * ((n+1) - sum(t^3 - t)/(n*(n-1))). Everything
# stays integral until the finish (2U keeps tie midranks integral —
# the roc_auc doubling rule); bigint->double casts are exact below
# 2^53 in both engines.
_MW_VAR4 = (
    "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 3.0"
    " * (CAST(n_all + 1 AS DOUBLE)"
    "    - CAST(tie_sum AS DOUBLE)"
    "      / NULLIF(CAST(n_all AS DOUBLE) * CAST(n_all - 1 AS DOUBLE), 0.0)))"
)
_MW_Z_EXPR = (
    f"CAST(u2 - n_a * n_b AS DOUBLE) / NULLIF(SQRT({_MW_VAR4}), 0.0)"
)


def ab_mann_whitney(
    units: DataFrame,
    variant_col: str = "variant",
    metric_col: str = "metric",
) -> DataFrame:
    """Mann-Whitney (Wilcoxon rank-sum) A/B test on a per-unit metric —
    the NONPARAMETRIC readout for skewed metrics (revenue, session
    length, event counts) where the two-proportion/t-test normality
    story breaks: compares entire rank distributions, robust to
    outliers by construction.

    Integer-exact core (the roc_auc machinery — Mann-Whitney IS the
    AUC statistic): bounded metric-VALUE frame, distributed
    quantile-bucketed cumulative count (never a single-partition
    window), tie MIDRANKS kept integral by doubling
    (``2*midrank = 2*cum_before + cnt + 1``), ``u2 = 2U`` exact. The
    finish adds the tie-corrected normal z as a fixed IEEE double
    sequence shared as SQL text. ``prob_b_gt_a_ppm = U / (n_a*n_b)``
    is the common-language effect size (ties count half).

    Scale note (the roc_auc convention): ``1e6 * u2`` overflows BIGINT
    once ``n_a * n_b`` exceeds ~4.6e12; ``tie_sum`` (sum of t^3 - t)
    overflows first on heavily-tied billion-row metrics — widen to
    DECIMAL past that line.
    """
    from cosmos_xenna_spark.operators.ranking import global_cumsum

    vals = checkpoint(
        units.groupBy(F.col(metric_col).alias("__m"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__cnt"),
            F.sum(F.col(variant_col).cast("bigint"))
            .cast("bigint")
            .alias("__pos"),
        )
    )
    vals = global_cumsum(vals, "__cnt", ["__m"], out_col="__cum")
    agg = vals.agg(
        F.sum(F.col("__cnt") - F.col("__pos")).cast("bigint").alias("n_a"),
        F.sum("__pos").cast("bigint").alias("n_b"),
        F.sum(
            F.col("__pos")
            * (2 * (F.col("__cum") - F.col("__cnt")) + F.col("__cnt") + 1)
        )
        .cast("bigint")
        .alias("__mid2"),
        F.sum(
            F.col("__cnt") * F.col("__cnt") * F.col("__cnt") - F.col("__cnt")
        )
        .cast("bigint")
        .alias("tie_sum"),
    )
    return agg.selectExpr(
        "n_a",
        "n_b",
        "n_a + n_b AS n_all",
        "CAST(__mid2 - n_b * (n_b + 1) AS BIGINT) AS u2",
        "tie_sum",
    ).selectExpr(
        "n_a",
        "n_b",
        "u2",
        "tie_sum",
        "CAST(1000000 * u2 DIV NULLIF(2 * n_a * n_b, 0) AS BIGINT)"
        " AS prob_b_gt_a_ppm",
        f"{_MW_Z_EXPR} AS z",
        f"CAST(CASE WHEN ABS({_MW_Z_EXPR}) >= 1.959963984540054"
        " THEN 1 ELSE 0 END AS BIGINT) AS significant",
    )


def ab_mann_whitney_sql(
    units_sql: str,
    variant_col: str = "variant",
    metric_col: str = "metric",
) -> str:
    """DuckDB mirror — plain ORDER BY cumulative window (certifying the
    distributed cumsum) + the VERBATIM shared z finish."""
    return f"""
    WITH vals AS (
      SELECT {metric_col} AS m, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST({variant_col} AS BIGINT)) AS BIGINT) AS pos
      FROM ({units_sql}) GROUP BY {metric_col}
    ),
    c AS (
      SELECT *, CAST(SUM(cnt) OVER (ORDER BY m) AS BIGINT) AS cum FROM vals
    ),
    agg AS (
      SELECT CAST(SUM(cnt - pos) AS BIGINT) AS n_a,
             CAST(SUM(pos) AS BIGINT) AS n_b,
             CAST(SUM(pos * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS mid2,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_sum
      FROM c
    ),
    base AS (
      SELECT n_a, n_b, n_a + n_b AS n_all,
             CAST(mid2 - n_b * (n_b + 1) AS BIGINT) AS u2, tie_sum
      FROM agg
    )
    SELECT n_a, n_b, u2, tie_sum,
           CAST(1000000 * u2 // NULLIF(2 * n_a * n_b, 0) AS BIGINT)
             AS prob_b_gt_a_ppm,
           {_MW_Z_EXPR} AS z,
           CAST(CASE WHEN ABS({_MW_Z_EXPR}) >= 1.959963984540054
                THEN 1 ELSE 0 END AS BIGINT) AS significant
    FROM base
    """


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramer's V association strength between two categoricals — the
    single-number summary :func:`chi_squared` deliberately withholds
    (its float TOTAL is order-dependent), made engine-exact by flooring
    each cell's contribution to an integer BEFORE the sum:

        chi2_milli = SUM_cells  (1000 * (o*N - r*c)^2) DIV (r*c*N)

    Each term is exact DECIMAL(38)/HUGEINT arithmetic and the floor
    makes it an integer, so the total is an order-independent integer
    sum — deterministic under any partitioning, identical in both
    engines (the per-cell-floor convention; the true chi2 differs by
    < #cells/1000).  The V finish
    ``sqrt((chi2_milli/1000) / (N * min(|A|-1, |B|-1)))`` is one fixed
    IEEE sequence on integers (the dstddev convention).  Contract:
    (o*N - r*c)^2 * 1000 needs N^4 * 1000 < 10^38 — fine through
    N ~ 10^8; route through higher-scale decimals beyond.

    Scale shape: ONE fact aggregation to the domain-bounded cells
    frame; marginals are windows over that frame; single-row output.
    """
    cells = df.groupBy(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    total = df.groupBy().agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    withm = (
        cells.withColumn("r", F.sum("o").over(wa).cast("bigint"))
        .withColumn("c", F.sum("o").over(wb).cast("bigint"))
        .crossJoin(F.broadcast(total))
    )
    term = F.expr(
        "(CAST(1000 AS DECIMAL(38,0))"
        " * (o * CAST(n_total AS DECIMAL(19,0)) - r * CAST(c AS DECIMAL(19,0)))"
        " * (o * CAST(n_total AS DECIMAL(19,0)) - r * CAST(c AS DECIMAL(19,0))))"
        " DIV (r * CAST(c AS DECIMAL(19,0)) * n_total)"
    ).cast("bigint")
    summary = withm.groupBy().agg(
        F.sum(term).cast("bigint").alias("chi2_milli"),
        F.countDistinct("a").cast("bigint").alias("n_a"),
        F.countDistinct("b").cast("bigint").alias("n_b"),
        F.max("n_total").cast("bigint").alias("n_total"),
    )
    return summary.select(
        "n_total",
        "n_a",
        "n_b",
        F.expr("CAST((n_a - 1) * (n_b - 1) AS BIGINT)").alias("dof"),
        "chi2_milli",
        F.expr(
            "SQRT((CAST(chi2_milli AS DOUBLE) / 1000.0)"
            " / (CAST(n_total AS DOUBLE)"
            "    * CAST(LEAST(n_a - 1, n_b - 1) AS DOUBLE)))"
        ).alias("cramers_v"),
    )


def cramers_v_sql(table: str, a_col: str, b_col: str) -> str:
    """DuckDB mirror — HUGEINT per-cell floors, identical IEEE finish."""
    return f"""
    WITH cells AS (
      SELECT {a_col} AS a, {b_col} AS b, CAST(COUNT(*) AS BIGINT) AS o
      FROM {table} GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM {table}),
    m AS (
      SELECT a, b, o,
             CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS r,
             CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS c,
             n_total
      FROM cells CROSS JOIN tot
    ),
    s AS (
      SELECT CAST(SUM(
               (1000 * (o * CAST(n_total AS HUGEINT) - r * CAST(c AS HUGEINT))
                     * (o * CAST(n_total AS HUGEINT) - r * CAST(c AS HUGEINT)))
               // (r * CAST(c AS HUGEINT) * n_total)
             ) AS BIGINT) AS chi2_milli,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
             CAST(MAX(n_total) AS BIGINT) AS n_total
      FROM m
    )
    SELECT n_total, n_a, n_b,
           CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
           chi2_milli,
           SQRT((CAST(chi2_milli AS DOUBLE) / 1000.0)
                / (CAST(n_total AS DOUBLE)
                   * CAST(LEAST(n_a - 1, n_b - 1) AS DOUBLE))) AS cramers_v
    FROM s
    """

"""K-minimum-values (theta) sketch set operations with the
cross-engine-exact contract of ``operators.hll`` / ``operators.cms``:
every signature value is an md5-derived integer and every estimate is
a fixed op sequence over exact integers, so the APPROXIMATION is in
the algorithm, never in the engines' agreement.

What KMV adds over the existing sketch family: SET OPERATIONS. HLL
gives per-group distinct counts (union only via register merge);
the MinHash audience sketch gives Jaccard. KMV's k smallest hashes
per group support union AND intersection CARDINALITY estimates for
any group pair (Beyer et al. 2007; the theta-sketch framework) —
"how many users do segments A and B share" without touching the raw
entity sets again.

Estimator (hash space [0, 2^60) — md5_long63 keeps 15 hex digits):

- per pair, merge the two k-min signatures, keep the k smallest
  distinct values; T = the kth (or the max, when the merged set has
  fewer than k values — then the union estimate is EXACT: the sketch
  saw every value).
- ``est_union = floor((k-1) * 2^60 / T)`` (both engines evaluate the
  identical IEEE double expression over exact integers).
- ``est_inter = c * est_union div k`` where ``c`` counts hashes <= T
  present in BOTH signatures (the theta rule: only values below the
  merged threshold vote).

Shape: one corpus aggregation builds the (group, rank<=k) signature
rows (k * G rows); pairs come from a broadcast ``a.g < b.g`` self-join
over the G-row group list (the audience_overlap_sketch contract — one
row per group BY CONSTRUCTION, allowlisted BNLJ); everything after is
equi-joins on the pair key over k-sized frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.functions import md5_long63, md5_long63_sql
from cosmos_xenna_spark.operators.cache import checkpoint

_HASH_SPACE = float(1 << 60)  # md5_long63 is 15 hex digits < 2^60


def _kmv_pair_base(
    df: DataFrame, group_col: str, entity_col: str, k: int
):
    """Shared builder for the theta set-op family: the k-min signature
    table, the broadcast pair spine (with exact distinct counts), and
    the per-pair merged threshold frame ``(ga, gb, t, m)``."""
    eg = df.select(
        F.col(group_col).alias("g"),
        md5_long63(F.col(entity_col).cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("g").orderBy(F.asc("h"))
    sig = checkpoint(
        eg.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("g", "h")
    )
    counts = eg.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    groups = checkpoint(counts)
    # one BNLJ builds the pair spine; the eager checkpoint keeps the
    # three downstream consumers (two merge branches + the final
    # attach) from re-planning the non-equi join each time
    pairs = checkpoint(
        groups.select(F.col("g").alias("ga"), F.col("n").alias("n_a"))
        .join(
            F.broadcast(
                groups.select(F.col("g").alias("gb"), F.col("n").alias("n_b"))
            ),
            F.col("ga") < F.col("gb"),
        )
    )
    merged = pairs.join(
        sig.select(F.col("g").alias("ga"), "h"), "ga"
    ).select("ga", "gb", "h").union(
        pairs.join(sig.select(F.col("g").alias("gb"), "h"), "gb").select(
            "ga", "gb", "h"
        )
    ).distinct()
    mw = Window.partitionBy("ga", "gb").orderBy(F.asc("h"))
    th = (
        merged.withColumn("__r", F.row_number().over(mw))
        .filter(F.col("__r") <= k)
        .groupBy("ga", "gb")
        .agg(
            F.max("h").alias("t"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
    )
    return sig, pairs, th


def kmv_set_ops(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise union/intersection cardinality estimates across all
    group pairs, plus the exact distinct counts the estimates
    approximate (small-group regime: when a merged sketch holds fewer
    than k values it IS the union, and the estimate goes exact)."""
    sig, pairs, th = _kmv_pair_base(df, group_col, entity_col, k)
    common = (
        sig.select(F.col("g").alias("ga"), "h")
        .join(sig.select(F.col("g").alias("gb"), "h"), "h")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(
            F.collect_list("h").alias("__hs"),
        )
    )
    est_union = F.when(
        F.col("m") < k, F.col("m").cast("bigint")
    ).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col("t")).cast(
            "bigint"
        )
    )
    out = (
        th.join(common, ["ga", "gb"], "left")
        .withColumn(
            "c_common",
            F.coalesce(
                F.size(F.filter(F.col("__hs"), lambda x: x <= F.col("t"))),
                F.lit(0),
            ).cast("bigint"),
        )
        .join(pairs, ["ga", "gb"])
        .withColumn("est_union", est_union)
    )
    return out.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "n_a",
        "n_b",
        "c_common",
        "est_union",
        # theta rule: when the merged sketch held fewer than k values
        # (m < k) NO truncation occurred — theta=1 and c_common IS the
        # exact intersection; scaling it by est_union/k would bias it
        # low by a factor of m/k in exactly the regime where the
        # sketch is lossless (two 20-value groups sharing 10 entities
        # at k=64 must report 10, not 10*20/64=3).
        F.when(F.col("m") < k, F.col("c_common"))
        .otherwise(F.expr("c_common * est_union DIV " + str(k)))
        .cast("bigint")
        .alias("est_intersection"),
    )


def kmv_set_ops_sql(
    table_sql: str, group_col: str, entity_col: str, k: int = 64
) -> str:
    """DuckDB mirror — identical hashing, thresholds and estimator
    arithmetic (pure relational form, no list functions)."""
    h = md5_long63_sql(f"CAST({entity_col} AS STRING)")
    return f"""
    WITH eg AS MATERIALIZED (
      SELECT DISTINCT {group_col} AS g, {h} AS h FROM ({table_sql})
    ),
    sig AS MATERIALIZED (
      SELECT g, h FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
        FROM eg
      ) WHERE r <= {k}
    ),
    counts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM eg GROUP BY g),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
      FROM counts a JOIN counts b ON a.g < b.g
    ),
    merged AS (
      SELECT DISTINCT ga, gb, h FROM (
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sig s ON s.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sig s ON s.g = p.gb
      )
    ),
    th AS (
      SELECT ga, gb, CAST(MAX(h) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM (
        SELECT ga, gb, h,
               row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
        FROM merged
      ) WHERE r <= {k} GROUP BY ga, gb
    ),
    common AS (
      SELECT a.g AS ga, b.g AS gb, a.h
      FROM sig a JOIN sig b ON a.h = b.h AND a.g < b.g
    ),
    scored AS (
      SELECT th.ga, th.gb, th.t, th.m,
             CAST(COALESCE(SUM(CASE WHEN c.h <= th.t THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS c_common
      FROM th LEFT JOIN common c ON c.ga = th.ga AND c.gb = th.gb
      GROUP BY th.ga, th.gb, th.t, th.m
    )
    SELECT s.ga AS group_a, s.gb AS group_b, p.n_a, p.n_b, s.c_common,
           est_union,
           CAST(CASE WHEN s.m < {k} THEN s.c_common
                     ELSE s.c_common * est_union // {k}
                END AS BIGINT) AS est_intersection
    FROM (
      SELECT *,
             CAST(CASE WHEN m < {k} THEN m
                       ELSE FLOOR({float(k - 1)!r} * {_HASH_SPACE!r} / t)
                  END AS BIGINT) AS est_union
      FROM scored
    ) s JOIN pairs p ON p.ga = s.ga AND p.gb = s.gb
    """


def kmv_anotb(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    k: int = 64,
) -> DataFrame:
    """Pairwise set-DIFFERENCE cardinality estimates |A\\B| and |B\\A|
    — the third theta-sketch operation (union and intersection live in
    :func:`kmv_set_ops`): "how many users does segment A have that B
    doesn't", without touching the raw entity sets again.

    Same estimator frame: only hashes <= the merged threshold T vote;
    ``c_a_only = (#A-hashes <= T) - c_common`` scaled by
    ``est_union / k`` — EXACT (theta = 1) when the merged sketch holds
    fewer than k values, the same lossless-regime rule the
    intersection estimator follows.

    Shape: the shared ``_kmv_pair_base`` builder + three k-sized
    per-pair counting joins; everything after the signature
    aggregation is equi-joins on the pair key.
    """
    sig, pairs, th = _kmv_pair_base(df, group_col, entity_col, k)
    # th and pairs are G^2-row frames BY CONSTRUCTION (one row per
    # group pair — the audience-overlap contract): broadcast them into
    # every counting join so the only exchanges left are the group-bys
    th = checkpoint(th)

    def below(side: str, out: str) -> DataFrame:
        return (
            sig.select(F.col("g").alias(side), "h")
            .join(F.broadcast(th), side)
            .filter(F.col("h") <= F.col("t"))
            .groupBy("ga", "gb")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    a_below = below("ga", "c_a_below")
    b_below = below("gb", "c_b_below")
    common_below = (
        sig.select(F.col("g").alias("ga"), "h")
        .join(sig.select(F.col("g").alias("gb"), "h"), "h")
        .filter(F.col("ga") < F.col("gb"))
        .join(F.broadcast(th), ["ga", "gb"])
        .filter(F.col("h") <= F.col("t"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_common"))
    )
    est_union = F.when(
        F.col("m") < k, F.col("m").cast("bigint")
    ).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col("t")).cast(
            "bigint"
        )
    )
    out = (
        th.join(F.broadcast(a_below), ["ga", "gb"], "left")
        .join(F.broadcast(b_below), ["ga", "gb"], "left")
        .join(F.broadcast(common_below), ["ga", "gb"], "left")
        .join(F.broadcast(pairs), ["ga", "gb"])
        .withColumn("est_union", est_union)
        .withColumn(
            "c_a_only",
            (
                F.coalesce("c_a_below", F.lit(0))
                - F.coalesce("c_common", F.lit(0))
            ).cast("bigint"),
        )
        .withColumn(
            "c_b_only",
            (
                F.coalesce("c_b_below", F.lit(0))
                - F.coalesce("c_common", F.lit(0))
            ).cast("bigint"),
        )
    )
    scaled = lambda c: (  # noqa: E731
        F.when(F.col("m") < k, F.col(c))
        .otherwise(F.expr(f"{c} * est_union DIV {k}"))
        .cast("bigint")
    )
    return out.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "n_a",
        "n_b",
        "c_a_only",
        "c_b_only",
        "est_union",
        scaled("c_a_only").alias("est_a_not_b"),
        scaled("c_b_only").alias("est_b_not_a"),
    )


def kmv_anotb_sql(
    table_sql: str, group_col: str, entity_col: str, k: int = 64
) -> str:
    """DuckDB mirror — identical hashing, thresholds, difference
    counting and the exact-regime rule."""
    h = md5_long63_sql(f"CAST({entity_col} AS STRING)")
    return f"""
    WITH eg AS MATERIALIZED (
      SELECT DISTINCT {group_col} AS g, {h} AS h FROM ({table_sql})
    ),
    sig AS MATERIALIZED (
      SELECT g, h FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
        FROM eg
      ) WHERE r <= {k}
    ),
    counts AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM eg GROUP BY g),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
      FROM counts a JOIN counts b ON a.g < b.g
    ),
    merged AS (
      SELECT DISTINCT ga, gb, h FROM (
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sig s ON s.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, s.h FROM pairs p JOIN sig s ON s.g = p.gb
      )
    ),
    th AS (
      SELECT ga, gb, CAST(MAX(h) AS BIGINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM (
        SELECT ga, gb, h,
               row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
        FROM merged
      ) WHERE r <= {k} GROUP BY ga, gb
    ),
    a_below AS (
      SELECT th.ga, th.gb, CAST(COUNT(*) AS BIGINT) AS c_a_below
      FROM th JOIN sig s ON s.g = th.ga AND s.h <= th.t
      GROUP BY th.ga, th.gb
    ),
    b_below AS (
      SELECT th.ga, th.gb, CAST(COUNT(*) AS BIGINT) AS c_b_below
      FROM th JOIN sig s ON s.g = th.gb AND s.h <= th.t
      GROUP BY th.ga, th.gb
    ),
    common_below AS (
      SELECT th.ga, th.gb, CAST(COUNT(*) AS BIGINT) AS c_common
      FROM sig a JOIN sig b ON a.h = b.h AND a.g < b.g
           JOIN th ON th.ga = a.g AND th.gb = b.g AND a.h <= th.t
      GROUP BY th.ga, th.gb
    ),
    scored AS (
      SELECT th.ga, th.gb, th.m,
             CAST(COALESCE(c_a_below, 0) - COALESCE(c_common, 0) AS BIGINT)
               AS c_a_only,
             CAST(COALESCE(c_b_below, 0) - COALESCE(c_common, 0) AS BIGINT)
               AS c_b_only,
             CAST(CASE WHEN th.m < {k} THEN th.m
                       ELSE FLOOR({float(k - 1)!r} * {_HASH_SPACE!r} / th.t)
                  END AS BIGINT) AS est_union
      FROM th LEFT JOIN a_below USING (ga, gb)
              LEFT JOIN b_below USING (ga, gb)
              LEFT JOIN common_below USING (ga, gb)
    )
    SELECT s.ga AS group_a, s.gb AS group_b, p.n_a, p.n_b,
           s.c_a_only, s.c_b_only, s.est_union,
           CAST(CASE WHEN s.m < {k} THEN s.c_a_only
                     ELSE s.c_a_only * s.est_union // {k} END AS BIGINT)
             AS est_a_not_b,
           CAST(CASE WHEN s.m < {k} THEN s.c_b_only
                     ELSE s.c_b_only * s.est_union // {k} END AS BIGINT)
             AS est_b_not_a
    FROM scored s JOIN pairs p ON p.ga = s.ga AND p.gb = s.gb
    """

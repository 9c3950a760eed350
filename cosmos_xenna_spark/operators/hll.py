"""Integer-exact HyperLogLog: mergeable distinct-count registers whose
ENTIRE pipeline — hashing, register extraction, merge, estimate — is
integer arithmetic reproducible bit-for-bit in DuckDB.

Why this exists: Spark's ``approx_count_distinct`` and DuckDB's
``approx_count_distinct`` use different sketches, so the built-ins can
never hash-match across engines; this implementation derives registers
from the repo's canonical md5-based 60-bit hash
(``functions.md5_long63``) and keeps the harmonic-mean estimate in
DYADIC RATIONALS (every 2^-rho term scaled by 2^53 is a bigint), so
the oracle contract is exact even though the ESTIMATE is approximate.

Layout: p=8 -> m=256 buckets; ``bucket = h % 256``, the remaining 52
bits give ``rho = 53 - bit_length(h2)`` (``bin()`` omits leading zeros
in both engines; ``h2 = 0 -> rho = 53``).  Registers merge by MAX —
the property that makes the sketch a rollup: merging per-group
registers equals sketching the union, which the ALL row demonstrates
against the exact distinct.

Estimate: ``alpha_m * m^2 / sum_j 2^(-M[j])`` with alpha for m=256
fixed as the integer constant ``ALPHA_E6 = 718273``
(0.7213 / (1 + 1.079/256), scaled 1e6) — a shared CONSTANT, not a
shared float computation.  The standard small-range correction
(linear counting, ``m * ln(m/V)`` when the raw estimate <= 2.5m and
V zero registers remain) IS applied, and stays integer-exact via a
trick: V only takes 256 values, so ``round(1e6 * ln(256/V))`` is a
256-entry integer CONSTANT TABLE embedded identically in both
engines — the transcendental becomes a lookup.  The companion query
emits the EXACT distinct next to the estimate as the standing
accuracy eval.

At 100 TB: registers are (group, bucket<=256) rows — the only
corpus-sized shuffle is the fine-grained (group, bucket) aggregation;
the rollup merge is a 256-rows-per-group max-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmos_xenna_spark.functions import md5_long63, md5_long63_sql
from cosmos_xenna_spark.operators.cache import checkpoint

ALPHA_E6 = 718273  # 0.7213 / (1 + 1.079/256), scaled 1e6 — shared constant
M = 256  # 2^8 buckets
RHO_MAX = 53  # 60-bit hash - 8 bucket bits => 52 value bits; rho in 1..53

# round(1e6 * ln(M / V)) for V = 1..M: the linear-counting table.
# Generated once HERE and embedded verbatim in both the Spark
# expression and the DuckDB SQL, so the engines share the INTEGERS,
# not a float computation (V = number of zero registers).
import math as _math

LC_TABLE_E6: tuple[int, ...] = tuple(
    round(1_000_000 * _math.log(M / v)) for v in range(1, M + 1)
)


def _estimate(regs: DataFrame) -> DataFrame:
    """(scope, bucket, r) registers -> (scope, est_distinct, n_zero)."""
    per_scope = regs.groupBy("scope").agg(
        F.sum(F.expr(f"shiftleft(1L, {RHO_MAX} - r)")).alias("__s_present"),
        F.count(F.lit(1)).alias("__n_present"),
    )
    # empty registers (rho = 0) contribute 2^RHO_MAX each — folded
    # into the div expression below
    raw = (
        f"CAST((CAST({ALPHA_E6} AS DECIMAL(38,0)) * {M} * {M}"
        f" * CAST({1 << RHO_MAX} AS DECIMAL(38,0)))"
        f" div (__s_present + ({M} - __n_present)"
        f" * CAST({1 << RHO_MAX} AS DECIMAL(38,0)))"
        f" div 1000000 AS BIGINT)"
    )
    lc_arr = "array(" + ",".join(f"{v}L" for v in LC_TABLE_E6) + ")"
    v_zero = f"({M} - __n_present)"
    lc = f"CAST({M}L * element_at({lc_arr}, CAST({v_zero} AS INT)) div 1000000 AS BIGINT)"
    return per_scope.select(
        "scope",
        F.expr(
            f"CASE WHEN {v_zero} > 0 AND {raw} <= {5 * M // 2}"
            f" THEN {lc} ELSE {raw} END"
        ).alias("est_distinct"),
        F.expr(
            f"CASE WHEN {v_zero} > 0 AND {raw} <= {5 * M // 2}"
            f" THEN 'lc' ELSE 'raw' END"
        ).alias("method"),
        (F.lit(M) - F.col("__n_present")).cast("bigint").alias("n_zero_registers"),
    )


def register_frame(
    df: DataFrame, group_col: str, entity_col: str
) -> DataFrame:
    """(scope, bucket, rho, __e) register contributions — the stateless
    front half shared by the batch rollup and the streaming twin."""
    h = md5_long63(F.col(entity_col).cast("string"), prefix="hll:")
    return (
        df.select(
            F.col(group_col).cast("string").alias("scope"),
            h.alias("__h"),
            F.col(entity_col).alias("__e"),
        )
        .withColumn("bucket", F.pmod("__h", F.lit(M)))
        .withColumn("__h2", F.expr(f"__h div {M}"))
        .withColumn(
            "rho",
            F.when(F.col("__h2") == 0, F.lit(RHO_MAX)).otherwise(
                F.lit(RHO_MAX) - F.length(F.bin("__h2"))
            ),
        )
    )


def estimate_from_registers(regs: list[int]) -> tuple[int, str, int]:
    """Pure-Python mirror of the engine estimate: given the m register
    values (0 = empty), return (est_distinct, method, n_zero) with the
    EXACT integer arithmetic of the SQL forms — Python ints are
    arbitrary precision, so this equals the decimal/HUGEINT result
    bit-for-bit (used by the streaming twin's state emitter)."""
    n_zero = sum(1 for r in regs if r == 0)
    s = sum((1 << (RHO_MAX - r)) if r else (1 << RHO_MAX) for r in regs)
    raw = ALPHA_E6 * M * M * (1 << RHO_MAX) // s // 1_000_000
    if n_zero > 0 and raw <= 5 * M // 2:
        return M * LC_TABLE_E6[n_zero - 1] // 1_000_000, "lc", n_zero
    return raw, "raw", n_zero


def hll_rollup(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    all_label: str = "ALL",
) -> DataFrame:
    """Per-group HLL distinct estimate + the register-merged rollup row.

    Emits one row per group and one ``all_label`` row whose registers
    are the max-merge of the group registers: ``(scope, est_distinct,
    n_zero_registers, exact_distinct)``.  The exact distinct rides
    along as the accuracy eval (drop it in production — it is the
    expensive column; the sketch is the cheap one).
    """
    hashed = checkpoint(register_frame(df, group_col, entity_col))
    regs_g = hashed.groupBy("scope", "bucket").agg(F.max("rho").alias("r"))
    regs_all = regs_g.groupBy("bucket").agg(F.max("r").alias("r")).select(
        F.lit(all_label).alias("scope"), "bucket", "r"
    )
    # estimate group rows and the rollup row SEPARATELY: unioning the
    # register tables first would double-count if a group value equals
    # all_label (and scope is the aggregation key either way)
    est = _estimate(regs_g).unionByName(_estimate(regs_all))
    exact_g = hashed.groupBy("scope").agg(
        F.count_distinct("__e").alias("exact_distinct")
    )
    exact_all = hashed.agg(
        F.count_distinct("__e").alias("exact_distinct")
    ).select(F.lit(all_label).alias("scope"), "exact_distinct")
    exact = exact_g.unionByName(exact_all)
    return est.join(exact, "scope").select(
        "scope",
        "est_distinct",
        "method",
        "n_zero_registers",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
    )


def hll_rollup_sql(
    table_sql: str,
    group_col: str,
    entity_col: str,
    all_label: str = "ALL",
) -> str:
    h = md5_long63_sql(f"CAST({entity_col} AS VARCHAR)", prefix="hll:")
    pow_max = 1 << RHO_MAX
    lc_list = "[" + ",".join(str(v) for v in LC_TABLE_E6) + "]"
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT CAST({group_col} AS VARCHAR) AS scope,
             {entity_col} AS e,
             h % {M} AS bucket,
             CASE WHEN h // {M} = 0 THEN {RHO_MAX}
                  ELSE {RHO_MAX} - length(bin(h // {M})) END AS rho
      FROM (SELECT {group_col}, {entity_col}, {h} AS h FROM ({table_sql}))
    ),
    regs_g AS MATERIALIZED (
      SELECT scope, bucket, MAX(rho) AS r FROM hashed GROUP BY scope, bucket
    ),
    regs_all AS (
      SELECT '{all_label}' AS scope, bucket, MAX(r) AS r
      FROM regs_g GROUP BY bucket
    ),
    est0 AS (
      SELECT scope,
             CAST((CAST({ALPHA_E6} AS HUGEINT) * {M} * {M}
                   * CAST({pow_max} AS HUGEINT))
                  // (CAST(SUM(1::BIGINT << ({RHO_MAX} - r)) AS HUGEINT)
                      + ({M} - COUNT(*)) * CAST({pow_max} AS HUGEINT))
                  // 1000000 AS BIGINT) AS raw_est,
             CAST({M} - COUNT(*) AS BIGINT) AS n_zero_registers
      FROM regs_g GROUP BY scope
      UNION ALL
      SELECT scope,
             CAST((CAST({ALPHA_E6} AS HUGEINT) * {M} * {M}
                   * CAST({pow_max} AS HUGEINT))
                  // (CAST(SUM(1::BIGINT << ({RHO_MAX} - r)) AS HUGEINT)
                      + ({M} - COUNT(*)) * CAST({pow_max} AS HUGEINT))
                  // 1000000 AS BIGINT),
             CAST({M} - COUNT(*) AS BIGINT)
      FROM regs_all GROUP BY scope
    ),
    est AS (
      SELECT scope,
             CASE WHEN n_zero_registers > 0 AND raw_est <= {int(5 * M / 2)}
                  THEN CAST({M}::BIGINT * list_extract({lc_list},
                       CAST(n_zero_registers AS INT)) // 1000000 AS BIGINT)
                  ELSE raw_est END AS est_distinct,
             CASE WHEN n_zero_registers > 0 AND raw_est <= {int(5 * M / 2)}
                  THEN 'lc' ELSE 'raw' END AS method,
             n_zero_registers
      FROM est0
    ),
    exact AS (
      SELECT scope, CAST(COUNT(DISTINCT e) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY scope
      UNION ALL
      SELECT '{all_label}', CAST(COUNT(DISTINCT e) AS BIGINT) FROM hashed
    )
    SELECT est.scope, est_distinct, method, n_zero_registers, exact_distinct
    FROM est JOIN exact ON est.scope = exact.scope
    """

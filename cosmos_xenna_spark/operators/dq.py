"""Declarative data-quality expectations, evaluated in one scan.

A validation suite is a list of :class:`Expectation` rules; the engine
compiles every row-local rule (``not_null`` / ``in_range`` / ``in_set``
/ ``matches``) into one violation-counting aggregate so the whole
suite costs a single pass with map-side partials, and ``unique`` rules
into ``count(key) - count(distinct key)`` terms that ride the same
aggregation (Spark plans multi-distinct via Expand — still one scan).

Output is one row per rule: ``(rule, column, kind, n_rows, violations,
passed)`` — small enough to collect, alert on, or append to a QA
ledger table.

Scale notes (100 TB): row-local rules add zero shuffles (partial
aggregation reduces each partition to one row); each distinct
``unique`` key adds one Expand branch to the same single-shuffle
aggregate.  Nothing is per-rule-per-pass: 50 rules cost the same scan
as one.

Reference parity: the reference validates schemas only at stage
boundaries (``pipelines/v1/interfaces.py`` type checks); declarative
row-content expectations are an engine addition a production corpus
pipeline needs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from cosmos_xenna_spark.operators.cache import checkpoint


@dataclass(frozen=True)
class Expectation:
    """One rule.  ``kind`` is one of ``not_null``, ``in_range``
    (params ``lo``/``hi``, inclusive), ``in_set`` (param ``values``),
    ``matches`` (param ``pattern``, RE2-style regex), ``unique``."""

    name: str
    column: str
    kind: str
    lo: float | None = None
    hi: float | None = None
    values: tuple = ()
    pattern: str | None = None

    def __post_init__(self):
        kinds = {"not_null", "in_range", "in_set", "matches", "unique"}
        if self.kind not in kinds:
            raise ValueError(f"unknown expectation kind {self.kind!r}; pick from {sorted(kinds)}")
        if self.kind == "in_range" and (self.lo is None or self.hi is None):
            raise ValueError(f"{self.name}: in_range needs lo and hi")
        if self.kind == "in_set" and not self.values:
            raise ValueError(f"{self.name}: in_set needs values")
        if self.kind == "matches" and not self.pattern:
            raise ValueError(f"{self.name}: matches needs pattern")


def _violation(e: Expectation) -> Column:
    """Boolean column: this row violates ``e`` (row-local kinds only).

    NULLs violate ``not_null`` and nothing else (SQL CHECK semantics:
    a NULL comparison is not a failure)."""
    c = F.col(e.column)
    if e.kind == "not_null":
        return c.isNull()
    if e.kind == "in_range":
        return c.isNotNull() & ~c.cast("double").between(float(e.lo), float(e.hi))
    if e.kind == "in_set":
        return c.isNotNull() & ~c.isin(list(e.values))
    if e.kind == "matches":
        return c.isNotNull() & ~c.rlike(e.pattern)
    raise AssertionError(e.kind)


def evaluate_expectations(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Run the whole suite in one aggregation pass.

    Returns ``(rule, column, kind, n_rows, violations, passed)`` with
    one row per expectation, in suite order."""
    if not expectations:
        raise ValueError("empty expectation suite")
    names = [e.name for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names in suite: {names}")

    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, e in enumerate(expectations):
        if e.kind == "unique":
            c = F.col(e.column)
            aggs.append(F.count(c).alias(f"__nn_{i}"))
            aggs.append(F.countDistinct(c).alias(f"__nd_{i}"))
        else:
            aggs.append(
                F.sum(F.when(_violation(e), F.lit(1)).otherwise(F.lit(0)))
                .cast("bigint")
                .alias(f"__v_{i}")
            )
    wide = df.agg(*aggs)

    # stack(n, name, column, kind, violations, ...) -> one row per rule
    parts: list[Column] = []
    for i, e in enumerate(expectations):
        viol = (
            (F.col(f"__nn_{i}") - F.col(f"__nd_{i}")).cast("bigint")
            if e.kind == "unique"
            else F.col(f"__v_{i}")
        )
        parts += [F.lit(e.name), F.lit(e.column), F.lit(e.kind), viol]
    stacked = wide.select(
        F.col("__total"),
        F.stack(
            F.lit(len(expectations)),
            *parts,
        ).alias("rule", "column", "kind", "violations"),
    )
    return stacked.select(
        "rule",
        "column",
        "kind",
        F.col("__total").alias("n_rows"),
        "violations",
        (F.col("violations") == 0).alias("passed"),
    )


def expectations_oracle_sql(table: str, expectations: list[Expectation]) -> str:
    """DuckDB mirror: one scalar-aggregate SELECT per rule, UNION ALL.

    (The oracle favors clarity over single-pass execution; the Spark
    side is the one that must be efficient.)"""
    selects = []
    for e in expectations:
        if e.kind == "unique":
            viol = f"COUNT({e.column}) - COUNT(DISTINCT {e.column})"
        elif e.kind == "not_null":
            viol = f"SUM(CASE WHEN {e.column} IS NULL THEN 1 ELSE 0 END)"
        elif e.kind == "in_range":
            viol = (
                f"SUM(CASE WHEN {e.column} IS NOT NULL AND "
                f"CAST({e.column} AS DOUBLE) NOT BETWEEN {float(e.lo)!r} AND {float(e.hi)!r} "
                f"THEN 1 ELSE 0 END)"
            )
        elif e.kind == "in_set":
            vals = ", ".join("'" + str(v).replace("'", "''") + "'" for v in e.values)
            viol = (
                f"SUM(CASE WHEN {e.column} IS NOT NULL AND {e.column} NOT IN ({vals}) "
                f"THEN 1 ELSE 0 END)"
            )
        elif e.kind == "matches":
            pat = e.pattern.replace("'", "''")
            viol = (
                f"SUM(CASE WHEN {e.column} IS NOT NULL AND "
                f"NOT regexp_matches({e.column}, '{pat}') THEN 1 ELSE 0 END)"
            )
        else:
            raise AssertionError(e.kind)
        selects.append(
            f"SELECT '{e.name}' AS rule, '{e.column}' AS \"column\", '{e.kind}' AS kind, "
            f"COUNT(*) AS n_rows, CAST({viol} AS BIGINT) AS violations, "
            f"CAST({viol} AS BIGINT) = 0 AS passed FROM {table}"
        )
    return "\nUNION ALL\n".join(selects)


def k_anonymity_violations(df: DataFrame, quasi_cols: list[str], k: int) -> DataFrame:
    """Privacy audit: quasi-identifier combinations carried by fewer
    than ``k`` rows (every such group re-identifies its members).

    Returns ``(quasi_cols..., n_rows)`` for violating groups only.
    One scan + one shuffle on the quasi columns (map-side partials);
    at 100 TB the output is the (small) set of rare combinations, not
    the data.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") < k)
    )


def key_skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
) -> DataFrame:
    """The ``top_n`` heaviest key groups with their corpus share — the
    "will this key distribution kill my shuffle" pre-flight check run
    before choosing a join/agg key at scale (pairs with
    ``operators/skew.py``'s salting, which is the fix this report
    motivates).

    One ``groupBy`` with map-side combine; the top-n is a TakeOrdered
    over the counts (never a global sort), the total a broadcast
    single-row aggregate, and ``share`` an exact integer ratio.
    Ordered deterministically by (n desc, keys).
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    top = counts.orderBy(F.desc("n"), *key_cols).limit(top_n)
    return top.crossJoin(F.broadcast(total)).select(
        *key_cols,
        "n",
        (F.col("n").cast("double") / F.col("__total")).alias("share"),
    )


def key_skew_report_sql(table: str, key_cols: list[str], top_n: int) -> str:
    keys = ", ".join(key_cols)
    return f"""
    WITH counts AS (SELECT {keys}, COUNT(*) AS n FROM {table} GROUP BY {keys}),
    t AS (SELECT SUM(n) AS total FROM counts)
    SELECT {keys}, n, CAST(n AS DOUBLE) / total AS share
    FROM counts, t
    ORDER BY n DESC, {keys} LIMIT {top_n}
    """


def fd_violations(
    df: DataFrame, determinant_cols: list[str], dependent_col: str
) -> DataFrame:
    """Functional-dependency audit: determinant values that map to MORE
    than one distinct dependent value — the data-quality check behind
    "source implies language", "order implies customer", etc.

    Returns one row per violating determinant:
    ``(determinant..., n_values, n_rows, example_min, example_max)``
    (the min/max dependent values double as a human-readable witness
    pair).  One aggregation pass — count-distinct runs as a partial
    aggregate, so the fact table shuffles once on the determinant key.
    """
    return (
        df.groupBy(*determinant_cols)
        .agg(
            F.countDistinct(dependent_col).alias("n_values"),
            F.count(F.lit(1)).alias("n_rows"),
            F.min(dependent_col).alias("example_min"),
            F.max(dependent_col).alias("example_max"),
        )
        .filter(F.col("n_values") > 1)
    )


def fd_violations_sql(table: str, determinant_cols: list[str], dependent_col: str) -> str:
    keys = ", ".join(determinant_cols)
    return f"""
    SELECT {keys},
           COUNT(DISTINCT {dependent_col}) AS n_values,
           COUNT(*) AS n_rows,
           MIN({dependent_col}) AS example_min,
           MAX({dependent_col}) AS example_max
    FROM {table}
    GROUP BY {keys}
    HAVING COUNT(DISTINCT {dependent_col}) > 1
    """


def table_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass column profile: ``(col_name, n_rows, n_null,
    n_distinct, min_str, max_str)`` for every (or the listed) column —
    the first look every data-quality audit takes at an unknown table.

    ALL columns' statistics ride ONE aggregation (a single scan; the
    count-distincts expand to Spark's standard multi-distinct plan),
    then unpivot to long format driver-free via ``stack``.  min/max
    stringify so heterogeneous column types share one output schema
    (the driver dtype contract: no per-column variant columns).
    """
    cols = list(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __null_{c}, __nd_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_null, n_distinct, min_str, max_str)",
    ).select("col_name", "n_rows", "n_null", "n_distinct", "min_str", "max_str")


def table_profile_sql(table: str, cols: list[str]) -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COUNT(DISTINCT {c}) AS n_distinct,
               MIN(CAST({c} AS STRING)) AS min_str,
               MAX(CAST({c} AS STRING)) AS max_str
        FROM {table}"""
        for c in cols
    ]
    return "\nUNION ALL\n".join(parts)


def fk_integrity(
    relations: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit: for each (name, child, fk_col,
    parent, pk_col) relation, count child rows whose foreign key has
    no matching parent key (NULL FKs are counted separately — SQL FK
    semantics exempt them from the reference check).

    Output: one row per relation — ``(relation, n_child, n_null_fk,
    n_orphans, orphan_ppm)``, all exact BIGINTs (ppm is integer
    division).

    Scale shape: per relation, one distinct-key projection of the
    parent (key-sized, not table-sized) and one shuffle anti-join of
    the child against it; the per-relation single-row summaries union
    into one tiny frame.  At web scale the anti-join is the place a
    Bloom prefilter slots in (``operators/bloom.py``) — the exact
    anti-join then runs only on the maybe-sliver.
    """
    parts = []
    for name, child, fk_col, parent, pk_col in relations:
        keys = parent.select(F.col(pk_col).alias("__pk")).distinct()
        # ONE pass over the child: a left join against the distinct
        # parent keys carries an orphan indicator, and total/null/
        # orphan counts ride a single aggregation (an anti-join +
        # separate totals aggregate would scan the child twice).
        joined = child.select(F.col(fk_col).alias("__fk")).join(
            keys, F.col("__fk") == F.col("__pk"), "left"
        )
        summary = joined.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("__fk").isNull().cast("bigint")).alias("n_null_fk"),
            F.sum(
                (F.col("__fk").isNotNull() & F.col("__pk").isNull()).cast("bigint")
            ).alias("n_orphans"),
        )
        parts.append(
            summary.select(
                F.lit(name).alias("relation"),
                "n_child",
                "n_null_fk",
                "n_orphans",
                F.expr("1000000 * n_orphans DIV n_child").alias("orphan_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fk_integrity_sql(relations: list[tuple[str, str, str, str, str]]) -> str:
    """DuckDB mirror over table names: (name, child_table, fk_col,
    parent_table, pk_col)."""
    selects = []
    for name, child, fk, parent, pk in relations:
        selects.append(
            f"""
      SELECT '{name}' AS relation,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child,
             (SELECT CAST(COUNT(*) FILTER ({fk} IS NULL) AS BIGINT) FROM {child}) AS n_null_fk,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
               WHERE c.{fk} IS NOT NULL
                 AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk})) AS n_orphans
            """
        )
        # ppm appended below from the scalar subqueries
    body = " UNION ALL ".join(selects)
    return f"""
    SELECT relation, n_child, n_null_fk, n_orphans,
           (1000000 * n_orphans) // n_child AS orphan_ppm
    FROM ({body})
    """


# Benford first-digit probabilities log10(1 + 1/d), injected as exact
# repr() doubles so both engines parse the identical binary64 constant.
import math as _math

_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_test(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Benford's-law conformance per group: the first-significant-digit
    distribution of ``value_col`` (rows with ``value >= 1``) against
    the Benford expectation ``p_d = log10(1 + 1/d)`` — the standard
    fabricated-data / unit-mixup screen for financial and telemetry
    columns (a synthetic column pegged to uniform digits lights up
    instantly).

    Emits one row per (group, digit 1..9) on a dense spine (absent
    digits appear with ``n_obs = 0`` — they still contribute to the
    chi-squared): ``(group..., digit, n_group, n_obs, expected,
    chi2_contrib)``.  ``expected = n_group * p_d`` and
    ``chi2_contrib = (n_obs - expected)^2 / expected`` are fixed
    double-op sequences on exact integers, so both engines agree
    bit-for-bit; callers sum ``chi2_contrib`` per group and compare
    against the chi-squared(8 df) critical value.

    Scale shape: facts aggregate once on (group, digit) with map-side
    partials; the dense spine is (n_groups x 9) rows built from the
    already-aggregated table — facts never join the spine.
    """
    digit = F.substring(
        F.floor(F.col(value_col)).cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    obs = (
        df.filter(F.col(value_col) >= 1)
        .withColumn("digit", digit)
        .groupBy(*group_cols, "digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    totals = obs.groupBy(*group_cols).agg(F.sum("n_obs").alias("n_group"))
    spine = totals.withColumn(
        "digit", F.explode(F.sequence(F.lit(1), F.lit(9)).cast("array<bigint>"))
    )
    dense = spine.join(obs, [*group_cols, "digit"], "left").withColumn(
        "n_obs", F.coalesce(F.col("n_obs"), F.lit(0)).cast("bigint")
    )
    p = F.element_at(
        F.array(*[F.lit(_BENFORD_P[d]) for d in range(1, 10)]),
        F.col("digit").cast("int"),
    )
    expected = F.col("n_group").cast("double") * p
    diff = F.col("n_obs").cast("double") - expected
    return dense.withColumns(
        {
            "expected": expected,
            "chi2_contrib": diff * diff / expected,
        }
    )


def benford_test_sql(table_sql: str, group_cols: list[str], value_col: str) -> str:
    """DuckDB mirror — identical digit extraction, dense spine and
    fixed finish; Benford constants injected via repr()."""
    keys = ", ".join(group_cols)
    p_case = " ".join(
        f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    return f"""
    WITH obs AS (
      SELECT {keys},
             CAST(substr(CAST(CAST(FLOOR({value_col}) AS BIGINT) AS STRING), 1, 1)
                  AS BIGINT) AS digit,
             COUNT(*) AS n_obs
      FROM ({table_sql}) WHERE {value_col} >= 1
      GROUP BY ALL
    ),
    totals AS (
      SELECT {keys}, CAST(SUM(n_obs) AS BIGINT) AS n_group FROM obs GROUP BY {keys}
    ),
    spine AS (
      SELECT {keys}, n_group, CAST(UNNEST(range(1, 10)) AS BIGINT) AS digit FROM totals
    ),
    dense AS (
      SELECT s.*, CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
             CAST(s.n_group AS DOUBLE) * (CASE s.digit {p_case} END) AS expected
      FROM spine s LEFT JOIN obs o USING ({keys}, digit)
    )
    SELECT {keys}, digit, n_group, n_obs, expected,
           (CAST(n_obs AS DOUBLE) - expected) * (CAST(n_obs AS DOUBLE) - expected)
             / expected AS chi2_contrib
    FROM dense
    """


def anonymity_ladder_sql(
    table_sql: str, levels: list[list[str]], k: int
) -> str:
    """Shared SQL for :func:`anonymity_ladder` — identical text runs on
    both engines (only the input relation differs)."""
    all_cols = []
    for lv in levels:
        for c in lv:
            if c not in all_cols:
                all_cols.append(c)
    sets = ", ".join("(" + ", ".join(lv) + ")" for lv in levels)
    level_case = " ".join(
        "WHEN "
        + " AND ".join(
            f"GROUPING({c}) = {0 if c in lv else 1}" for c in all_cols
        )
        + f" THEN {i}"
        for i, lv in enumerate(levels)
    )
    return f"""
    WITH g AS (
      SELECT CASE {level_case} END AS level, COUNT(*) AS n
      FROM ({table_sql})
      GROUP BY GROUPING SETS ({sets})
    )
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < {k} THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
           CAST(COALESCE(SUM(CASE WHEN n < {k} THEN n END), 0) AS BIGINT) AS rows_at_risk
    FROM g GROUP BY level
    """


def anonymity_ladder(
    df: DataFrame, levels: list[list[str]], k: int, view_name: str = "__anon_ladder"
) -> DataFrame:
    """Generalization-ladder k-anonymity profile: for each candidate
    quasi-identifier generalization level (finest first, e.g. exact
    size band -> coarse band -> drop the band), how many groups exist,
    how many hold fewer than ``k`` rows, and how many rows those small
    groups expose — the privacy-utility readout that picks the minimal
    generalization satisfying k-anonymity, computed in ONE pass.

    Every level is a branch of a single GROUPING SETS aggregation (one
    shuffle with map-side partials — L levels cost the same scan as
    one); the level id is decoded from the GROUPING() flag pattern, and
    the per-level rollup runs on the group-count-sized frame.  The SQL
    text is engine-shared, so the oracle is literal.

    ``levels`` must be distinct column subsets (the flag pattern is the
    discriminator).
    """
    pats = [tuple(sorted(lv)) for lv in levels]
    if len(set(pats)) != len(pats):
        raise ValueError("anonymity_ladder levels must be distinct column sets")
    df.createOrReplaceTempView(view_name)
    return df.sparkSession.sql(anonymity_ladder_sql(f"SELECT * FROM {view_name}", levels, k))


def schema_drift(
    old: DataFrame,
    new: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """Profile drift between two table versions/slices: per column, the
    null-rate and distinct-cardinality movement plus min/max boundary
    changes — the cheap pre-flight that catches a upstream schema or
    semantics change (a column silently going half-NULL, an enum
    growing a value, a date column jumping ranges) before it poisons a
    training run.

    Composes two one-scan :func:`table_profile` passes with a
    column-name equi-join (profile tables are column-count-sized).
    Rates are exact integer ppm; ``boundary_moved`` flags min/max
    string changes.
    """
    po = table_profile(old, cols).select(
        "col_name",
        F.col("n_rows").alias("rows_old"),
        F.col("n_null").alias("null_old"),
        F.col("n_distinct").alias("nd_old"),
        F.col("min_str").alias("min_old"),
        F.col("max_str").alias("max_old"),
    )
    pn = table_profile(new, cols).select(
        "col_name",
        F.col("n_rows").alias("rows_new"),
        F.col("n_null").alias("null_new"),
        F.col("n_distinct").alias("nd_new"),
        F.col("min_str").alias("min_new"),
        F.col("max_str").alias("max_new"),
    )
    j = po.join(pn, "col_name")
    null_rate_old = F.expr("null_old * 1000000L div rows_old")
    null_rate_new = F.expr("null_new * 1000000L div rows_new")
    return j.select(
        "col_name",
        F.col("rows_old").cast("bigint").alias("rows_old"),
        F.col("rows_new").cast("bigint").alias("rows_new"),
        (null_rate_new - null_rate_old).cast("bigint").alias("null_rate_delta_ppm"),
        (F.col("nd_new") - F.col("nd_old")).cast("bigint").alias("distinct_delta"),
        (
            (~F.col("min_old").eqNullSafe(F.col("min_new")))
            | (~F.col("max_old").eqNullSafe(F.col("max_new")))
        ).cast("bigint").alias("boundary_moved"),
    )


def schema_drift_sql(
    old_sql: str, new_sql: str, cols: list[str]
) -> str:
    """DuckDB mirror — two profile passes + the same deltas."""
    po = table_profile_sql(f"({old_sql})", cols)
    pn = table_profile_sql(f"({new_sql})", cols)
    return f"""
    WITH po AS ({po}), pn AS ({pn})
    SELECT po.col_name,
           CAST(po.n_rows AS BIGINT) AS rows_old,
           CAST(pn.n_rows AS BIGINT) AS rows_new,
           CAST(pn.n_null * 1000000 // pn.n_rows
                - po.n_null * 1000000 // po.n_rows AS BIGINT) AS null_rate_delta_ppm,
           CAST(pn.n_distinct - po.n_distinct AS BIGINT) AS distinct_delta,
           CAST((po.min_str IS DISTINCT FROM pn.min_str)
                OR (po.max_str IS DISTINCT FROM pn.max_str) AS BIGINT) AS boundary_moved
    FROM po JOIN pn USING (col_name)
    """


def json_validity(
    df: DataFrame,
    group_cols: list[str],
    json_col: str,
    required_key: str,
) -> DataFrame:
    """Per-group JSON conformance profile of a string payload column:
    how many rows parse as a JSON OBJECT, how many carry
    ``required_key``, and the min/max of that key's integer value —
    the ingest gate for semi-structured sidecar columns (props,
    headers, tool output) before anything downstream trusts
    ``get_json_object`` results.

    Spark: ``get_json_object`` returns NULL for both invalid JSON and
    a missing key, so object-ness is probed with a separate
    try-parse; DuckDB mirrors with ``json_valid`` + ``json_type``.
    All counts exact; min/max are bigint (non-integer values of the
    key count as present but contribute NULL to min/max in BOTH
    engines via try-cast).
    """
    is_obj = F.expr(
        f"try_parse_json({json_col}) IS NOT NULL"
        f" AND startswith(ltrim({json_col}), '{{')"
    )
    val = F.expr(f"try_cast(get_json_object({json_col}, '$.{required_key}') AS BIGINT)")
    has_key = F.expr(
        f"get_json_object({json_col}, '$.{required_key}') IS NOT NULL"
    )
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(is_obj.cast("bigint")).cast("bigint").alias("n_json_objects"),
            F.sum((is_obj & has_key).cast("bigint"))
            .cast("bigint")
            .alias("n_with_key"),
            F.min(F.when(is_obj, val)).cast("bigint").alias("key_min"),
            F.max(F.when(is_obj, val)).cast("bigint").alias("key_max"),
        )
    )


def json_validity_sql(
    table_sql: str, group_cols: list[str], json_col: str, required_key: str
) -> str:
    g = ", ".join(group_cols)
    obj = f"(json_valid({json_col}) AND json_type(json({json_col})) = 'OBJECT')"
    raw = f"json_extract({json_col}, '$.{required_key}')"
    return f"""
    SELECT {g},
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {obj} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_json_objects,
           CAST(SUM(CASE WHEN {obj} AND {raw} IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_key,
           CAST(MIN(CASE WHEN {obj}
                         THEN TRY_CAST({raw}::VARCHAR AS BIGINT) END) AS BIGINT)
             AS key_min,
           CAST(MAX(CASE WHEN {obj}
                         THEN TRY_CAST({raw}::VARCHAR AS BIGINT) END) AS BIGINT)
             AS key_max
    FROM ({table_sql}) GROUP BY {g}
    """


def l_diversity_sql(
    table_sql: str, quasi_cols: list[str], sensitive_col: str, l: int
) -> str:
    """Shared SQL for :func:`l_diversity` — identical text runs on both
    engines (only the input relation differs).  Integer-exact: counts
    are BIGINT; the top-share ratio is FLOOR over an IEEE division both
    engines perform identically."""
    q = ", ".join(quasi_cols)
    return f"""
    WITH vc AS (
      SELECT {q}, {sensitive_col} AS sensitive_value, COUNT(*) AS c
      FROM ({table_sql}) GROUP BY {q}, {sensitive_col}
    )
    SELECT {q},
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           CAST(FLOOR(1000000.0 * MAX(c) / SUM(c)) AS BIGINT) AS top_share_ppm,
           (COUNT(*) >= {l}) AS passes
    FROM vc GROUP BY {q}
    """


def _counts_frame(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, alias: str
) -> DataFrame:
    """ONE corpus aggregation to the sparse (quasi, sensitive, count)
    frame, eagerly checkpointed: the shared SQL's CTE would otherwise
    be inlined per consumer and re-scan the corpus once per reference
    (4 scans for t-closeness — the DSIR/KN count-table lesson)."""
    from pyspark.sql import functions as F

    return checkpoint(
        df.groupBy(*quasi_cols, F.col(sensitive_col).alias(alias))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int,
    view_name: str = "__l_diversity",
) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2006): k-anonymity is
    not enough when every row of a quasi-identifier group shares the
    SAME sensitive value — the group is re-identifiable in aggregate.
    For each quasi group this reports the number of distinct sensitive
    values (``l_distinct``), the share of the most common one
    (``top_share_ppm`` — the homogeneity-attack exposure), and a
    ``passes`` flag for distinct-l.

    Two-stage aggregation: one shuffle on (quasi, sensitive) with
    map-side partials, then a group-count-sized rollup — the value
    distribution never leaves the executors and the output is one row
    per quasi group, so the audit costs one pass at any corpus size.
    """
    vc = _counts_frame(df, quasi_cols, sensitive_col, "sensitive_value")
    vc.createOrReplaceTempView(view_name)
    q = ", ".join(quasi_cols)
    return df.sparkSession.sql(f"""
    SELECT {q},
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           CAST(FLOOR(1000000.0 * MAX(c) / SUM(c)) AS BIGINT) AS top_share_ppm,
           (COUNT(*) >= {l}) AS passes
    FROM {view_name} GROUP BY {q}
    """)


def t_closeness_sql(
    table_sql: str, quasi_cols: list[str], sensitive_col: str, t_ppm: int
) -> str:
    """Shared SQL for :func:`t_closeness`.  The distance is total
    variation (the L1 instantiation of t-closeness for categorical
    sensitive attributes): ``TVD(g) = 1/2 * sum_v |c_gv/n_g - c_v/N|``.
    Multiplying through by ``2*n_g*N`` keeps every term integer —
    values ABSENT from a group contribute ``c_v * n_g``, folded in as
    ``n_g * (N - sum_present c_v)`` so the sparse (group, value) frame
    never needs a dense spine."""
    q = ", ".join(quasi_cols)
    return f"""
    WITH vc AS (
      SELECT {q}, {sensitive_col} AS sv, COUNT(*) AS c
      FROM ({table_sql}) GROUP BY {q}, {sensitive_col}
    ),
    gv AS (SELECT sv, CAST(SUM(c) AS BIGINT) AS cv FROM vc GROUP BY sv),
    tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM gv),
    grp AS (SELECT {q}, CAST(SUM(c) AS BIGINT) AS ng FROM vc GROUP BY {q}),
    agg AS (
      SELECT {q}, MAX(gr.ng) AS ng, MAX(t.n) AS n,
             CAST(SUM(ABS(vc.c * t.n - g.cv * gr.ng)) AS BIGINT) AS present_term,
             CAST(SUM(g.cv) AS BIGINT) AS gv_present
      FROM vc
      JOIN gv g USING (sv)
      JOIN grp gr USING ({q})
      CROSS JOIN tot t
      GROUP BY {q}
    )
    SELECT {q}, n_rows, tvd_ppm, (tvd_ppm > {t_ppm}) AS breaches FROM (
      SELECT {q}, CAST(ng AS BIGINT) AS n_rows,
             CAST(FLOOR(1000000.0 * (present_term + ng * (n - gv_present))
                        / (2.0 * ng * n)) AS BIGINT) AS tvd_ppm
      FROM agg
    )
    """


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_ppm: int,
    view_name: str = "__t_closeness",
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007): a group
    can be l-diverse and still leak — if its sensitive-value
    DISTRIBUTION differs sharply from the corpus-wide one, membership
    alone updates an attacker's prior.  Reports per-group total
    variation distance to the global distribution in exact ppm and a
    ``breaches`` flag against ``t_ppm``.

    One (quasi, sensitive) aggregation pass; the global value
    distribution ``gv`` is vocabulary-bounded (broadcast side), the
    per-group frame joins it once, and the single-row corpus total is
    the allowlisted one-row broadcast.  Output is one row per quasi
    group; skipping a dense group x value spine keeps the shuffle
    proportional to OBSERVED combinations.  At >2^31-row corpora widen
    ``c * n`` to DECIMAL before the product.
    """
    vc = _counts_frame(df, quasi_cols, sensitive_col, "sv")
    vc.createOrReplaceTempView(view_name)
    q = ", ".join(quasi_cols)
    return df.sparkSession.sql(f"""
    WITH gv AS (SELECT sv, CAST(SUM(c) AS BIGINT) AS cv
                FROM {view_name} GROUP BY sv),
    tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM gv),
    grp AS (SELECT {q}, CAST(SUM(c) AS BIGINT) AS ng
            FROM {view_name} GROUP BY {q}),
    agg AS (
      SELECT {q}, MAX(gr.ng) AS ng, MAX(t.n) AS n,
             CAST(SUM(ABS(vc.c * t.n - g.cv * gr.ng)) AS BIGINT) AS present_term,
             CAST(SUM(g.cv) AS BIGINT) AS gv_present
      FROM {view_name} vc
      JOIN gv g USING (sv)
      JOIN grp gr USING ({q})
      CROSS JOIN tot t
      GROUP BY {q}
    )
    SELECT {q}, n_rows, tvd_ppm, (tvd_ppm > {t_ppm}) AS breaches FROM (
      SELECT {q}, CAST(ng AS BIGINT) AS n_rows,
             CAST(FLOOR(1000000.0 * (present_term + ng * (n - gv_present))
                        / (2.0 * ng * n)) AS BIGINT) AS tvd_ppm
      FROM agg
    )
    """)

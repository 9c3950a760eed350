"""Event-sequence operators: Markov transition matrices and
time-window deduplication.

Both are per-entity sequence computations expressed with keyed windows
— the partition key (``user_id``) is high-cardinality, so the window
shuffle spreads evenly across executors (unlike corpus-global windows,
which this codebase bans — see ``tests/test_plans.py``).

Scale shapes (100 TB):
- ``transition_matrix``: one window shuffle on the user key, then a
  ``groupBy(src, dst)`` whose input is one row per event and whose
  output is |event-type|^2 rows (tiny); probabilities divide two exact
  integers so the doubles are bit-deterministic.
- ``dedup_time_window``: the bucket id is a row-local expression, so
  the only shuffle is the (entity, type, bucket) window — fine-grained
  keys, no skew amplification.  This is the batch form of streaming
  ``dropDuplicates`` with a watermark (``streaming/__init__.py``).

Reference parity: the reference has no event-sequence operators (its
examples defer analytics to user stages, reference
``examples/simple_data_processing.py``); these mirror standard
sessionized-analytics surfaces (Flink CEP-style transitions, Kafka
Streams windowed dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint


def transition_matrix(
    events: DataFrame,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition counts + probabilities over each
    entity's time-ordered event sequence.

    ``lead`` over a per-entity window pairs each event with its
    successor (ties broken by ``id_col`` so the ordering — and the
    result — is total and engine-independent); ``prob`` is an exact
    integer ratio.  The per-source total is a window sum over the
    already-aggregated counts frame (|types|² rows) — NOT a join back
    to a totals aggregate, which would duplicate the whole
    window+groupBy subplan into both join branches (Spark does not
    dedupe identical subplans; measured: 5 shuffles as a join, 3 as a
    window).

    Returns ``(src, dst, n, prob)``.
    """
    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    pairs = (
        events.withColumn("__dst", F.lead(type_col).over(w))
        .filter(F.col("__dst").isNotNull())
        .select(F.col(type_col).alias("src"), F.col("__dst").alias("dst"))
    )
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("src"))
    return counts.select(
        "src", "dst", "n", (F.col("n").cast("double") / tot).alias("prob")
    )


def transition_matrix_sql(
    table: str, entity_col: str, type_col: str, ts_col: str, id_col: str
) -> str:
    return f"""
    WITH pairs AS (
      SELECT {type_col} AS src,
             LEAD({type_col}) OVER (PARTITION BY {entity_col}
                                    ORDER BY {ts_col}, {id_col}) AS dst
      FROM {table}
    ),
    counts AS (
      SELECT src, dst, COUNT(*) AS n FROM pairs
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    totals AS (SELECT src, SUM(n) AS tot FROM counts GROUP BY src)
    SELECT c.src, c.dst, c.n, CAST(c.n AS DOUBLE) / t.tot AS prob
    FROM counts c JOIN totals t USING (src)
    """


def dedup_time_window(
    events: DataFrame,
    width_secs: int = 600,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Keep the first event per (entity, type) within each tumbling
    ``width_secs`` bucket — batch-mode duplicate suppression for
    at-least-once event feeds (retries, double-fires).

    The bucket id is ``floor(epoch / width)`` — row-local, exact
    integer arithmetic for any positive epoch — and "first" is the
    total order (ts, id), so the survivor set is deterministic and
    partitioning-independent.
    """
    bucket = F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(width_secs))
    w = Window.partitionBy(entity_col, type_col, "__bucket").orderBy(ts_col, id_col)
    return (
        events.withColumn("__bucket", bucket)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__bucket")
    )


def dedup_time_window_sql(
    table: str,
    width_secs: int,
    entity_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    cols: str,
) -> str:
    bucket = f"CAST(FLOOR(epoch({ts_col}) / {width_secs}) AS BIGINT)"
    return f"""
    SELECT {cols} FROM (
      SELECT {cols},
             ROW_NUMBER() OVER (PARTITION BY {entity_col}, {type_col}, {bucket}
                                ORDER BY {ts_col}, {id_col}) AS rn
      FROM {table}
    ) WHERE rn = 1
    """


def gaps_islands(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Islands of consecutive ACTIVE DAYS per entity (gaps-and-islands):
    returns ``(entity, start_day, end_day, n_days)`` with one row per
    maximal run of consecutive calendar days that have >= 1 event.

    Classic rank-difference formulation: within an entity, consecutive
    distinct days share ``day_number - row_number()``, so the island id
    falls out of one keyed window over the DISTINCT (entity, day) rows
    — the distinct collapses the input to at most days-per-entity rows
    before the window, and both shuffles are on the fine-grained entity
    key.  Day arithmetic is integer (days since epoch), engine-exact.
    """
    days = events.select(
        F.col(entity_col).alias("entity"),
        F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")).alias("__day"),
    ).distinct()
    w = Window.partitionBy("entity").orderBy("__day")
    islands = days.withColumn(
        "__grp", F.col("__day") - F.row_number().over(w)
    )
    return (
        islands.groupBy("entity", "__grp")
        .agg(
            F.min("__day").alias("__lo"),
            F.max("__day").alias("__hi"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .select(
            "entity",
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("__lo").cast("int")).alias("start_day"),
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("__hi").cast("int")).alias("end_day"),
            "n_days",
        )
    )


def gaps_islands_sql(table: str, entity_col: str, ts_col: str) -> str:
    return f"""
    WITH days AS (
      SELECT DISTINCT {entity_col} AS entity,
             date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)) AS d
      FROM {table}
    ),
    g AS (
      SELECT entity, d,
             d - ROW_NUMBER() OVER (PARTITION BY entity ORDER BY d) AS grp
      FROM days
    )
    SELECT entity AS {entity_col},
           DATE '1970-01-01' + CAST(MIN(d) AS INTEGER) AS start_day,
           DATE '1970-01-01' + CAST(MAX(d) AS INTEGER) AS end_day,
           COUNT(*) AS n_days
    FROM g GROUP BY entity, grp
    """


def ohlc_bars(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Open/high/low/close downsampling bars per (entity, time bucket)
    — the classic time-series reduction (candlesticks, metric rollups).

    One ``groupBy`` shuffle on the fine-grained (entity, bucket) key.
    Open/close are ``min_by``/``max_by`` over a zero-padded
    ``(epoch_us, id)`` string key — a total order both engines sort
    identically (DuckDB's ``arg_min``/``arg_max`` lack struct ordering
    keys, see :func:`~cosmos_xenna_spark.operators.dedup.keep_best` for
    the precedent) — so every output value is a deterministic SELECTION
    from the input (min/max/count are exact; nothing sums floats).

    Reference parity: none — the reference defers analytics to user
    stages; this is the standard downsampling surface (InfluxDB/
    Timescale ``time_bucket`` + ``first``/``last``).
    """
    key = f"printf('%020d|%020d', unix_micros({ts_col}), {id_col})"
    return (
        events.groupBy(
            F.col(entity_col).alias("entity"),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start"),
        )
        .agg(
            F.expr(f"min_by({value_col}, {key})").alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.expr(f"max_by({value_col}, {key})").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def ohlc_bars_sql(
    table: str,
    entity_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket: str = "hour",
) -> str:
    key = f"printf('%020d|%020d', epoch_us({ts_col}), {id_col})"
    return f"""
    SELECT {entity_col} AS entity,
           date_trunc('{bucket}', {ts_col}) AS bucket_start,
           arg_min({value_col}, {key}) AS open,
           MAX({value_col}) AS high,
           MIN({value_col}) AS low,
           arg_max({value_col}, {key}) AS close,
           COUNT(*) AS n_events
    FROM {table}
    GROUP BY 1, 2
    """


def last_touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    source_types: tuple[str, ...] = ("click", "view"),
    window_secs: int = 1800,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch marketing attribution: each conversion event is
    credited to the most recent source event (click/view) by the same
    entity within ``window_secs`` before it.

    One keyed window shuffle on the entity: three ``last(..., ignore
    nulls)`` expressions over the same strictly-preceding rows frame
    carry the latest source event's (id, type, epoch) up to each row;
    conversions outside the lookback window surface with NULL
    attribution (kept, not dropped — unattributed conversions are the
    signal marketing wants).  The frame order (ts, id) is total, so the
    carried source is deterministic under any partitioning.
    """
    w = (
        Window.partitionBy(entity_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_src = F.col(type_col).isin(*source_types)
    src_id = F.last(F.when(is_src, F.col(id_col)), ignorenulls=True).over(w)
    src_type = F.last(F.when(is_src, F.col(type_col)), ignorenulls=True).over(w)
    src_ts = F.last(F.when(is_src, F.unix_micros(F.col(ts_col))), ignorenulls=True).over(w)
    delay = F.unix_micros(F.col(ts_col)) - F.col("__src_ts")
    in_window = F.col("__src_ts").isNotNull() & (delay <= F.lit(window_secs) * 1_000_000)
    return (
        events.withColumn("__src_id", src_id)
        .withColumn("__src_type", src_type)
        .withColumn("__src_ts", src_ts)
        .filter(F.col(type_col) == conversion_type)
        .select(
            F.col(id_col).alias("conversion_id"),
            F.col(entity_col).alias("entity"),
            F.when(in_window, F.col("__src_id")).alias("src_event_id"),
            F.when(in_window, F.col("__src_type")).alias("src_type"),
            F.when(in_window, delay).alias("delay_us"),
        )
    )


def last_touch_attribution_sql(
    table: str,
    conversion_type: str,
    source_types: tuple[str, ...],
    window_secs: int,
    entity_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
) -> str:
    srcs = ", ".join(f"'{s}'" for s in source_types)
    frame = (
        f"OVER (PARTITION BY {entity_col} ORDER BY {ts_col}, {id_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    return f"""
    SELECT conversion_id, entity,
           CASE WHEN in_window THEN sid END AS src_event_id,
           CASE WHEN in_window THEN stype END AS src_type,
           CASE WHEN in_window THEN delay END AS delay_us
    FROM (
      SELECT {id_col} AS conversion_id, {entity_col} AS entity,
             {type_col} AS etype, sid, stype,
             epoch_us({ts_col}) - sts AS delay,
             sts IS NOT NULL
               AND epoch_us({ts_col}) - sts <= {window_secs} * 1000000 AS in_window
      FROM (
        SELECT *,
               last_value(CASE WHEN {type_col} IN ({srcs}) THEN {id_col} END IGNORE NULLS)
                 {frame} AS sid,
               last_value(CASE WHEN {type_col} IN ({srcs}) THEN {type_col} END IGNORE NULLS)
                 {frame} AS stype,
               last_value(CASE WHEN {type_col} IN ({srcs}) THEN epoch_us({ts_col}) END IGNORE NULLS)
                 {frame} AS sts
        FROM {table}
      )
    ) WHERE etype = '{conversion_type}'
    """


def rolling_distinct_count(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    window_rows: int,
    order_tiebreak: list[str] | None = None,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Exact distinct count over a trailing event window: per key,
    ordered by ``order_col``, the number of DISTINCT ``value_col``
    values among the last ``window_rows`` rows INCLUDING the current
    one — behavioral-diversity signals (distinct event types / pages /
    items in the user's recent activity), feature-store style.

    Implementation: the frame's values ride ONE keyed window as a
    ``collect_list``; ``array_distinct`` + ``size`` finish row-locally.
    Per-row state is bounded by ``window_rows`` (this is the exact
    form — for unbounded frames use ``approx_count_distinct`` over a
    grouped rollup instead; an unbounded exact distinct frame cannot
    be O(1) state).

    Scale shape: one shuffle on the key, frame state O(window_rows)
    per row, finish is row-local — no self-join against history.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col, *(order_tiebreak or []))
        .rowsBetween(-(window_rows - 1), 0)
    )
    return df.withColumn(
        out_col,
        F.size(F.array_distinct(F.collect_list(value_col).over(w))).cast("bigint"),
    )


def rolling_distinct_count_sql(
    table_sql: str,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    window_rows: int,
    order_tiebreak: list[str] | None = None,
    out_col: str = "n_distinct",
) -> str:
    """DuckDB mirror — DuckDB supports DISTINCT aggregates over frames
    directly, so the oracle is the declarative form of the same count."""
    part = ", ".join(key_cols)
    order = ", ".join([order_col, *(order_tiebreak or [])])
    return f"""
    SELECT *,
           CAST(COUNT(DISTINCT {value_col}) OVER (
             PARTITION BY {part} ORDER BY {order}
             ROWS BETWEEN {window_rows - 1} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS {out_col}
    FROM ({table_sql})
    """


def audience_overlap(
    df: DataFrame,
    entity_col: str,
    group_col: str,
) -> DataFrame:
    """Pairwise audience overlap between groups: for every pair of
    groups sharing at least one entity, the distinct-entity overlap
    and Jaccard similarity — "how much do the audiences of event types
    / domains / campaigns overlap", the segmentation-QA and
    near-duplicate-source signal at the GROUP level.

    Returns ``(group_a, group_b, n_a, n_b, n_both, jaccard)`` with
    ``group_a < group_b``; ``jaccard`` is one double division of exact
    integer counts (bit-identical across engines).

    Scale shape: the co-membership pairs are generated ENTITY-locally
    (sorted distinct group set per entity -> row-local combination
    explode), never by self-joining the membership table — per-entity
    cost is ``k_groups_per_entity choose 2``, which is bounded by the
    group vocabulary, not the corpus (the market-basket contract one
    level up).  One shuffle to distinct, one to the per-entity set,
    one on the pair key; the group-size table is group-count-sized and
    broadcasts back.
    """
    eg = df.select(
        F.col(group_col).alias("g"), F.col(entity_col).alias("e")
    ).distinct()
    sizes = eg.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    per_entity = eg.groupBy("e").agg(F.array_sort(F.collect_set("g")).alias("gs"))
    pairs = per_entity.select(
        F.explode(
            F.expr(
                "flatten(transform(gs, (x, i) ->"
                " transform(slice(gs, i + 2, size(gs)),"
                " y -> struct(x AS ga, y AS gb))))"
            )
        ).alias("p")
    ).select("p.ga", "p.gb")
    both = pairs.groupBy("ga", "gb").agg(F.count(F.lit(1)).alias("n_both"))
    sa = sizes.select(F.col("g").alias("ga"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("g").alias("gb"), F.col("n").alias("n_b"))
    out = both.join(F.broadcast(sa), "ga").join(F.broadcast(sb), "gb")
    return out.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_both").cast("bigint").alias("n_both"),
        (
            F.col("n_both").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
        ).alias("jaccard"),
    )


def audience_overlap_sql(table_sql: str, entity_col: str, group_col: str) -> str:
    """DuckDB mirror — the all-pairs membership self-join (the oracle
    certifies the entity-local combination explode emits exactly the
    co-membership pairs)."""
    return f"""
    WITH eg AS (
      SELECT DISTINCT {group_col} AS g, {entity_col} AS e FROM ({table_sql})
    ),
    sizes AS (SELECT g, COUNT(*) AS n FROM eg GROUP BY g),
    both_t AS (
      SELECT a.g AS ga, b.g AS gb, COUNT(*) AS n_both
      FROM eg a JOIN eg b ON a.e = b.e AND a.g < b.g
      GROUP BY a.g, b.g
    )
    SELECT ga AS group_a, gb AS group_b,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE) AS jaccard
    FROM both_t JOIN sizes sa ON both_t.ga = sa.g
                JOIN sizes sb ON both_t.gb = sb.g
    """


def event_path_ngrams(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    type_col: str,
    n: int = 3,
    order_tiebreak: list[str] | None = None,
    sep: str = ">",
) -> DataFrame:
    """Frequent behavioral path segments: every run of ``n``
    consecutive event types per key (user/session), counted across the
    corpus — "what are the common 3-step journeys", the sequence-
    mining workhorse one level up from the pairwise transition matrix.

    Returns ``(path, n_occurrences)`` where ``path`` is the
    ``sep``-joined type n-gram.

    Scale shape: the n-gram is ``n - 1`` flat ``lead`` terms in ONE
    keyed window pass (no session self-join, no explode), then one
    count aggregation on the path string with map-side partials.
    """
    w = Window.partitionBy(*key_cols).orderBy(order_col, *(order_tiebreak or []))
    parts = [F.col(type_col)] + [
        F.lead(type_col, j).over(w) for j in range(1, n)
    ]
    path = F.concat_ws(sep, *parts)
    last = F.lead(type_col, n - 1).over(w)
    return (
        df.withColumn("__path", path)
        .withColumn("__ok", last.isNotNull())
        .filter(F.col("__ok"))
        .groupBy(F.col("__path").alias("path"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def event_path_ngrams_sql(
    table_sql: str,
    key_cols: list[str],
    order_col: str,
    type_col: str,
    n: int = 3,
    order_tiebreak: list[str] | None = None,
    sep: str = ">",
) -> str:
    part = ", ".join(key_cols)
    order = ", ".join([order_col, *(order_tiebreak or [])])
    w = f"OVER (PARTITION BY {part} ORDER BY {order})"
    cols = [type_col] + [f"LEAD({type_col}, {j}) {w}" for j in range(1, n)]
    path = (" || '" + sep + "' || ").join(cols)
    last = f"LEAD({type_col}, {n - 1}) {w}"
    return f"""
    SELECT path, COUNT(*) AS n_occurrences FROM (
      SELECT {path} AS path, {last} AS __last FROM ({table_sql})
    ) WHERE __last IS NOT NULL
    GROUP BY path
    """


def temporal_cooccurrence(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    type_col: str,
    types: list[str],
    window_secs: int,
) -> DataFrame:
    """Temporal co-occurrence matrix: for every ordered type pair
    (a, b), how many times a ``b`` event STRICTLY follows an ``a``
    event within ``window_secs`` for the same key — "what happens
    within an hour of a click", the lead/lag association mining step
    behind trigger detection and next-event models.

    ``types`` is the (bounded) type vocabulary to count into — one
    conditional range-frame count per type, ALL riding one keyed
    window exchange; pairs at zero time distance (ties) are excluded
    so the count is orientation-unambiguous.

    Returns ``(type_a, type_b, n_pairs)`` for pairs with n >= 1.

    Scale shape: one shuffle on the key; the per-row frame state is
    bounded by event density within ``window_secs``; the final
    aggregation reduces to a |types|^2 matrix with map-side partials —
    no event self-join.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.unix_micros(F.col(ts_col)))
        .rangeBetween(1, window_secs * 1_000_000)
    )
    cnt_cols = [
        F.sum(F.when(F.col(type_col) == t, 1).otherwise(0))
        .over(w)
        .alias(f"__n_{i}")
        for i, t in enumerate(types)
    ]
    base = df.select(F.col(type_col).alias("type_a"), *cnt_cols)
    per_type = base.groupBy("type_a").agg(
        *[F.sum(f"__n_{i}").alias(f"__s_{i}") for i in range(len(types))]
    )
    stacked = per_type.select(
        "type_a",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("type_b"),
                        F.coalesce(F.col(f"__s_{i}"), F.lit(0))
                        .cast("bigint")
                        .alias("n_pairs"),
                    )
                    for i, t in enumerate(types)
                ]
            )
        ),
    )
    return stacked.filter(F.col("n_pairs") >= 1)


def temporal_cooccurrence_sql(
    table_sql: str,
    key_cols: list[str],
    ts_col: str,
    type_col: str,
    types: list[str],
    window_secs: int,
) -> str:
    """DuckDB mirror — identical conditional range-frame counts."""
    part = ", ".join(key_cols)
    w = (
        f"OVER (PARTITION BY {part} ORDER BY epoch_us({ts_col}) "
        f"RANGE BETWEEN 1 FOLLOWING AND {window_secs * 1_000_000} FOLLOWING)"
    )
    cnts = ", ".join(
        f"SUM(CASE WHEN {type_col} = '{t}' THEN 1 ELSE 0 END) {w} AS n_{i}"
        for i, t in enumerate(types)
    )
    sums = ", ".join(
        f"CAST(COALESCE(SUM(n_{i}), 0) AS BIGINT) AS s_{i}" for i in range(len(types))
    )
    stack = "\n      UNION ALL ".join(
        f"SELECT type_a, '{t}' AS type_b, s_{i} AS n_pairs FROM per_type"
        for i, t in enumerate(types)
    )
    return f"""
    WITH base AS (
      SELECT {type_col} AS type_a, {cnts} FROM ({table_sql})
    ),
    per_type AS (
      SELECT type_a, {sums} FROM base GROUP BY type_a
    )
    SELECT * FROM ({stack}) WHERE n_pairs >= 1
    """


def audience_overlap_minhash(
    df: DataFrame,
    entity_col: str,
    group_col: str,
    n_hashes: int = 64,
) -> DataFrame:
    """MinHash-sketch twin of :func:`audience_overlap` — the scale path
    when audiences are huge: each group's entity SET compresses to an
    ``n_hashes``-component signature (min of a universal hash per
    permutation), and Jaccard is estimated as the fraction of matching
    components.  The entity-locality contract of the exact form caps
    pair cost by groups-per-entity; this one goes further — after one
    aggregation pass the CORPUS is out of the picture entirely, and
    group pairs compare fixed 8*n_hashes-byte signatures.

    Deterministic end-to-end (one independent md5-derived permutation
    per component, no RNG), so the estimator COMPUTATION is bit-exact
    and SQL-oracle-able; its statistical accuracy (est ~ true Jaccard
    +- 1/sqrt(n_hashes)) is pinned by a separate test against the
    exact operator.

    Returns ``(group_a, group_b, est_jaccard_ppm)`` for all group
    pairs (including zero-overlap ones — a sketch cannot distinguish
    true zero from small).

    Scale shape: one distinct + one aggregation over (group, entity)
    with map-side partial mins; the signature table is group-count-
    sized and checkpointed; pairs come from a broadcast ``a.g < b.g``
    self-join over that G-row table (distributed spine — no driver
    literal, no cartesian, no membership self-join, nothing downstream
    touches the corpus).
    """
    from cosmos_xenna_spark.functions import md5_long63

    # Each signature component is an INDEPENDENT md5-derived
    # permutation (md5 of "i:entity").  The cheap split-linear
    # universal family the LSH banding uses is NOT min-wise sound on
    # its own: only the high 33 bits get multiplied, the value wraps
    # the Mersenne prime at most ~4 times, and the argmin ends up
    # driven by the same few entities under every permutation —
    # measured estimate 0.195 for a pair whose true Jaccard is 0.52
    # (a truly random permutation reads 0.48).  Banding only needs
    # collision-on-equal, so the cheap family is fine THERE; an
    # estimator needs min-wise independence, so it pays one md5 per
    # (row, component) — the classic MinHash cost.
    eg = df.select(
        F.col(group_col).alias("g"),
        F.col(entity_col).cast("string").alias("e"),
    ).distinct()
    sigs = eg.groupBy("g").agg(
        *[
            F.min(
                md5_long63(F.concat(F.lit(f"{i}:"), F.col("e")))
            ).alias(f"__s{i}")
            for i in range(n_hashes)
        ]
    )
    # Pair spine is DISTRIBUTED (VERDICT r9 #5 closed): the signature
    # table has exactly one row per group, so all unordered pairs come
    # from a broadcast `a.g < b.g` self-join over it — no driver-built
    # literal and no cardinality ceiling beyond what broadcasting a
    # G-row table already implies. Checkpoint first so the corpus
    # aggregation executes once, not once per join side, and so the
    # non-equi join's build side is a materialized G-row frame rather
    # than a re-run of the whole upstream plan.
    sigs = checkpoint(sigs)
    sa = sigs.select(F.col("g").alias("group_a"), *[F.col(f"__s{i}").alias(f"__a{i}") for i in range(n_hashes)])
    sb = sigs.select(F.col("g").alias("group_b"), *[F.col(f"__s{i}").alias(f"__b{i}") for i in range(n_hashes)])
    joined = sa.join(F.broadcast(sb), F.col("group_a") < F.col("group_b"))
    matches = " + ".join(
        f"(CASE WHEN __a{i} = __b{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return joined.select(
        "group_a",
        "group_b",
        F.expr(
            f"CAST(CAST(({matches}) AS BIGINT) * 1000000L div {n_hashes} AS BIGINT)"
        ).alias("est_jaccard_ppm"),
    )


def audience_overlap_minhash_sql(
    table_sql: str,
    entity_col: str,
    group_col: str,
    n_hashes: int = 64,
) -> str:
    """DuckDB mirror — identical hash constants and match counting."""
    from cosmos_xenna_spark.functions import md5_long63_sql

    mins = ", ".join(
        f"MIN({md5_long63_sql('e', prefix=f'{i}:')}) AS s{i}"
        for i in range(n_hashes)
    )
    matches = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return f"""
    WITH eg AS (
      SELECT DISTINCT {group_col} AS g, CAST({entity_col} AS STRING) AS e
      FROM ({table_sql})
    ),
    sigs AS (
      SELECT g, {mins} FROM eg GROUP BY g
    )
    SELECT a.g AS group_a, b.g AS group_b,
           CAST(CAST(({matches}) AS BIGINT) * 1000000 // {n_hashes} AS BIGINT)
             AS est_jaccard_ppm
    FROM sigs a JOIN sigs b ON a.g < b.g
    """


def linear_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    source_types: tuple[str, ...] = ("click", "view"),
    window_secs: int = 1800,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Linear multi-touch attribution: each conversion's credit is
    split EQUALLY across every source event (click/view) by the same
    entity within ``window_secs`` before it — the standard multi-touch
    complement to :func:`last_touch_attribution` (which over-credits
    the final touch).

    One keyed RANGE-frame window carries the in-window sources as a
    (epoch, id, type) struct list (``collect_list`` skips the
    non-source NULLs); the list is sorted row-locally for determinism
    and exploded to one row per (conversion, source).  Unattributed
    conversions survive as a NULL-source row (``n_sources = 0``), the
    last-touch contract.  ``share_ppm = 10^6 div n_sources`` — exact
    integer division; the <=(n-1) ppm rounding remainder is documented
    rather than redistributed.

    Returns ``(conversion_id, entity, src_event_id, src_type,
    n_sources, share_ppm)``.

    Scale shape: ONE shuffle on the entity key; frame state is bounded
    by source density within ``window_secs``; the explode is row-local
    and bounded by the same density.  No event self-join.
    """
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(entity_col)
        .orderBy(us)
        .rangeBetween(-window_secs * 1_000_000, -1)
    )
    is_src = F.col(type_col).isin(*source_types)
    srcs = F.array_sort(
        F.collect_list(
            F.when(
                is_src,
                F.struct(
                    us.alias("us"),
                    F.col(id_col).alias("id"),
                    F.col(type_col).alias("t"),
                ),
            )
        ).over(w)
    )
    conv = (
        events.withColumn("__srcs", srcs)
        .filter(F.col(type_col) == conversion_type)
        .withColumn("__n", F.size("__srcs").cast("bigint"))
    )
    return conv.select(
        F.col(id_col).alias("conversion_id"),
        F.col(entity_col).alias("entity"),
        F.explode_outer("__srcs").alias("__s"),
        "__n",
    ).select(
        "conversion_id",
        "entity",
        F.col("__s.id").alias("src_event_id"),
        F.col("__s.t").alias("src_type"),
        F.col("__n").alias("n_sources"),
        F.when(F.col("__n") > 0, F.expr("1000000L div __n")).alias("share_ppm"),
    )


def linear_attribution_sql(
    table_sql: str,
    conversion_type: str = "purchase",
    source_types: tuple[str, ...] = ("click", "view"),
    window_secs: int = 1800,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> str:
    """DuckDB mirror — FILTER clause instead of collect_list's
    NULL-skip; empty lists padded with a NULL struct to emulate
    explode_outer."""
    srcs = ", ".join(f"'{t}'" for t in source_types)
    return f"""
    WITH base AS (
      SELECT *, epoch_us({ts_col}) AS __us FROM ({table_sql})
    ),
    win AS (
      SELECT *,
             list_sort(array_agg(
               CASE WHEN {type_col} IN ({srcs})
                    THEN {{'us': __us, 'id': {id_col}, 't': {type_col}}} END)
               FILTER (WHERE {type_col} IN ({srcs}))
               OVER (PARTITION BY {entity_col} ORDER BY __us
                     RANGE BETWEEN {window_secs * 1_000_000} PRECEDING
                     AND 1 PRECEDING)) AS __srcs
      FROM base
    ),
    conv AS (
      SELECT {id_col} AS conversion_id, {entity_col} AS entity,
             COALESCE(len(__srcs), 0) AS __n,
             CASE WHEN COALESCE(len(__srcs), 0) = 0
                  THEN [NULL::STRUCT(us BIGINT, id BIGINT, t VARCHAR)]
                  ELSE __srcs END AS __padded
      FROM win WHERE {type_col} = '{conversion_type}'
    )
    SELECT conversion_id, entity,
           s.id AS src_event_id, s.t AS src_type,
           CAST(__n AS BIGINT) AS n_sources,
           CASE WHEN __n > 0 THEN CAST(1000000 // __n AS BIGINT) END AS share_ppm
    FROM conv, UNNEST(__padded) AS u(s)
    """


def dwell_time(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    state_col: str,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Time-in-state profile: for each (key, state), the total dwell
    time — each event's state holds until the entity's NEXT event
    (the last event of a key contributes nothing: its dwell is
    unobserved, not infinite).  The screen-time / funnel-stage-latency
    reduction.

    One keyed window (``lead`` of the epoch) + one aggregation on the
    (key, state) composite; durations are exact integer microseconds.

    Returns ``(key..., state, total_us, n_visits)``.
    """
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(*key_cols).orderBy(us, *(order_tiebreak or []))
    base = df.withColumn("__d", F.lead(us.cast("bigint"), 1).over(w) - us)
    return (
        base.filter(F.col("__d").isNotNull())
        .groupBy(*key_cols, F.col(state_col).alias("state"))
        .agg(
            F.sum("__d").cast("bigint").alias("total_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_visits"),
        )
    )


def dwell_time_sql(
    table_sql: str,
    key_cols: list[str],
    ts_col: str,
    state_col: str,
    order_tiebreak: list[str] | None = None,
) -> str:
    part = ", ".join(key_cols)
    order = ", ".join([f"epoch_us({ts_col})", *(order_tiebreak or [])])
    return f"""
    SELECT {part}, {state_col} AS state,
           CAST(SUM(__d) AS BIGINT) AS total_us,
           CAST(COUNT(*) AS BIGINT) AS n_visits
    FROM (
      SELECT *, LEAD(epoch_us({ts_col})) OVER (PARTITION BY {part} ORDER BY {order})
                - epoch_us({ts_col}) AS __d
      FROM ({table_sql})
    ) WHERE __d IS NOT NULL
    GROUP BY {part}, {state_col}
    """


def dau_wau_stickiness(
    df: DataFrame,
    ts_col: str,
    entity_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Engagement stickiness timeline: per calendar day, DAU (distinct
    entities active that day), WAU (distinct entities active in the
    trailing ``window_days`` ending that day) and the DAU/WAU ratio —
    the standard product-health metric, with WAU computed EXACTLY.

    Distributed without any corpus- or calendar-global window: each
    distinct (day, entity) row is EXPLODED to the ``window_days``
    future days it contributes to, and the trailing distinct count
    falls out of a fine-grained (day, entity) distinct + per-day count
    — the shuffles stay keyed on (day, entity), never on the bare day.
    Days with no activity emit no row (both engines agree); leading
    days carry partial windows by construction.

    Returns ``(day, dau, wau, stickiness_ppm)`` with ``day`` as the
    integer day-since-epoch (cross-engine exact; callers render dates
    downstream).
    """
    day = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    du = df.select(day.alias("day"), F.col(entity_col).alias("e")).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        du.select(
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("day"),
            "e",
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return dau.join(contrib, "day").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.expr("dau * 1000000L div wau").alias("stickiness_ppm"),
    )


def dau_wau_stickiness_sql(
    table_sql: str, ts_col: str, entity_col: str, window_days: int = 7
) -> str:
    return f"""
    WITH du AS (
      SELECT DISTINCT date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)) AS day,
             {entity_col} AS e
      FROM ({table_sql})
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    contrib AS (
      SELECT day, COUNT(*) AS wau FROM (
        SELECT DISTINCT day + d AS day, e
        FROM du, UNNEST(range(0, {window_days})) AS t(d)
      ) GROUP BY day
    )
    SELECT day, CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_ppm
    FROM dau JOIN contrib USING (day)
    """


def burst_days(
    df: DataFrame,
    ts_col: str,
    type_col: str,
    mult_ppt: int = 2000,
    min_base: int = 7,
    window_days: int = 7,
) -> DataFrame:
    """Burst detection (Kleinberg-lite): per (type, calendar day), flag
    days whose event count clears ``mult_ppt``/1000 × the trailing
    ``window_days``-day DAILY AVERAGE (window strictly BEFORE the day,
    so the burst can't dilute its own baseline) — trend/incident
    surfacing over event streams.

    Calendar-gap safe: the trailing sum uses a RANGE frame over the
    integer day key, so missing days weigh zero instead of silently
    stretching a rows-frame.  Burst test in integers:
    ``n * window_days * 1000 >= mult_ppt * prev_sum`` — no float
    ratios; the reported ``ratio_ppt`` is the div-exact thousandths.
    Baselines with fewer than ``min_base`` events are skipped (a 2-
    event baseline makes everything a burst).

    Shape: one fine-grained (type, day) count, one keyed RANGE window,
    row-local test.
    """
    day = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    daily = df.select(F.col(type_col).alias("etype"), day.alias("day")).groupBy(
        "etype", "day"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("etype")
        .orderBy("day")
        .rangeBetween(-window_days, -1)
    )
    return (
        daily.withColumn("prev_sum", F.coalesce(F.sum("n").over(w), F.lit(0)))
        .filter(
            (F.col("prev_sum") >= min_base)
            & (F.col("n") * window_days * 1000 >= mult_ppt * F.col("prev_sum"))
        )
        .select(
            "etype",
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.col("prev_sum").cast("bigint").alias("prev_sum"),
            F.expr(f"1000 * n * {window_days} div prev_sum").alias("ratio_ppt"),
        )
    )


def burst_days_sql(
    table_sql: str,
    ts_col: str,
    type_col: str,
    mult_ppt: int = 2000,
    min_base: int = 7,
    window_days: int = 7,
) -> str:
    return f"""
    SELECT etype, day, CAST(n AS BIGINT) AS n,
           CAST(prev_sum AS BIGINT) AS prev_sum,
           CAST(1000 * n * {window_days} // prev_sum AS BIGINT) AS ratio_ppt
    FROM (
      SELECT etype, day, n,
             COALESCE(SUM(n) OVER (PARTITION BY etype ORDER BY day
               RANGE BETWEEN {window_days} PRECEDING AND 1 PRECEDING), 0) AS prev_sum
      FROM (
        SELECT {type_col} AS etype,
               date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)) AS day,
               COUNT(*) AS n
        FROM ({table_sql}) GROUP BY 1, 2
      )
    )
    WHERE prev_sum >= {min_base}
      AND n * {window_days} * 1000 >= {mult_ppt} * prev_sum
    """


def time_weighted_average(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Time-weighted average (TWAP) per key and calendar day: each
    observation's cent-quantized value weighted by the microseconds
    until the key's NEXT observation that day — the honest mean for
    irregularly sampled series (an arithmetic mean over-weights chatty
    periods).  The day's last observation has no observed duration and
    is excluded (the ``dwell_time`` contract).

    Integers end-to-end: ``twap_cents = sum(cents * dur_us) div
    sum(dur_us)``.  One keyed lead window + one aggregation.
    """
    day = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*key_cols, "day").orderBy("__us", id_col)
    base = df.select(
        *key_cols,
        day.alias("day"),
        us.alias("__us"),
        F.floor(F.col(value_col) * 100).cast("bigint").alias("__cents"),
        F.col(id_col),
    ).withColumn("__dur", F.lead("__us").over(w) - F.col("__us"))
    return (
        base.filter(F.col("__dur").isNotNull())
        .groupBy(*key_cols, "day")
        .agg(
            F.sum(F.col("__cents") * F.col("__dur")).alias("__num"),
            F.sum("__dur").alias("__den"),
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        )
        .filter(F.col("__den") > 0)
        .select(
            *key_cols,
            "day",
            "n_obs",
            F.expr("__num div __den").cast("bigint").alias("twap_cents"),
        )
    )


def time_weighted_average_sql(
    table_sql: str,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    id_col: str,
) -> str:
    g = ", ".join(key_cols)
    return f"""
    SELECT {g}, day, CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(cents * dur) // SUM(dur) AS BIGINT) AS twap_cents
    FROM (
      SELECT {g}, day, cents,
             LEAD(us) OVER (PARTITION BY {g}, day ORDER BY us, {id_col}) - us AS dur
      FROM (
        SELECT {g},
               date_diff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)) AS day,
               epoch_us({ts_col}) AS us,
               CAST(FLOOR({value_col} * 100) AS BIGINT) AS cents,
               {id_col}
        FROM ({table_sql})
      )
    ) WHERE dur IS NOT NULL
    GROUP BY {g}, day HAVING SUM(dur) > 0
    """


def venn3_overlap(
    df: DataFrame,
    entity_col: str,
    group_col: str,
    groups: tuple[str, str, str],
) -> DataFrame:
    """Exact 3-way Venn regions for three named audiences: one row per
    non-empty region (``in_a``, ``in_b``, ``in_c`` flags) with its
    exact entity count — the three-campaign / three-source reach
    breakdown the pairwise ``audience_overlap`` matrix cannot give
    (pairwise overlaps do not determine the triple intersection).

    Shape: one membership aggregation per entity (three max flags in a
    single groupBy — ONE shuffle on the entity key), then an 8-cell
    count.  Never materializes per-pair candidates; scales with
    distinct entities.
    """
    a, b, c = groups
    flags = (
        df.filter(F.col(group_col).isin(a, b, c))
        .groupBy(F.col(entity_col).alias("e"))
        .agg(
            F.max(F.when(F.col(group_col) == a, 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col(group_col) == b, 1).otherwise(0)).alias("in_b"),
            F.max(F.when(F.col(group_col) == c, 1).otherwise(0)).alias("in_c"),
        )
    )
    return (
        flags.groupBy("in_a", "in_b", "in_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_entities"))
        .select(
            F.col("in_a").cast("int").alias("in_a"),
            F.col("in_b").cast("int").alias("in_b"),
            F.col("in_c").cast("int").alias("in_c"),
            "n_entities",
        )
    )


def venn3_overlap_sql(
    table_sql: str,
    entity_col: str,
    group_col: str,
    groups: tuple[str, str, str],
) -> str:
    a, b, c = groups
    return f"""
    WITH flags AS (
      SELECT {entity_col} AS e,
             MAX(CASE WHEN {group_col} = '{a}' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN {group_col} = '{b}' THEN 1 ELSE 0 END) AS in_b,
             MAX(CASE WHEN {group_col} = '{c}' THEN 1 ELSE 0 END) AS in_c
      FROM ({table_sql})
      WHERE {group_col} IN ('{a}', '{b}', '{c}')
      GROUP BY {entity_col}
    )
    SELECT CAST(in_a AS INT) AS in_a, CAST(in_b AS INT) AS in_b,
           CAST(in_c AS INT) AS in_c,
           CAST(COUNT(*) AS BIGINT) AS n_entities
    FROM flags GROUP BY in_a, in_b, in_c
    """


def interval_union_seconds(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-group total COVERED seconds of a set of (possibly
    overlapping) intervals — the union-of-intervals measure behind
    "actual engaged time" (overlapping sessions/plays must not
    double-count) and machine-utilization ledgers.

    Classic sweep: order intervals by start within the group, track
    the running max of ends seen BEFORE each interval (one window),
    and sum ``end - max(start, prev_max_end)`` over rows that extend
    coverage.  Exact bigint epoch-seconds; one keyed window, no
    self-join — at 100 TB the group key partitions the sweep.
    """
    from pyspark.sql import Window

    g = [F.col(x) for x in group_cols]
    base = df.select(
        *g,
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    ).filter(F.col("e") > F.col("s"))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = base.withColumn("prev_max_e", F.max("e").over(w))
    covered = F.when(
        F.col("prev_max_e").isNull(), F.col("e") - F.col("s")
    ).otherwise(
        F.greatest(
            F.col("e") - F.greatest(F.col("s"), F.col("prev_max_e")),
            F.lit(0),
        )
    )
    return (
        swept.select(*g, covered.alias("cov"))
        .groupBy(*group_cols)
        .agg(F.sum("cov").cast("bigint").alias("covered_seconds"))
    )


def interval_union_seconds_sql(
    table_sql: str, group_cols: list[str], start_col: str, end_col: str
) -> str:
    g = ", ".join(group_cols)
    return f"""
    WITH base AS (
      SELECT {g}, CAST({start_col} AS BIGINT) AS s, CAST({end_col} AS BIGINT) AS e
      FROM ({table_sql}) WHERE {end_col} > {start_col}
    ),
    swept AS (
      SELECT {g}, s, e,
             MAX(e) OVER (PARTITION BY {g} ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM base
    )
    SELECT {g},
           CAST(SUM(CASE WHEN prev_max_e IS NULL THEN e - s
                         ELSE GREATEST(e - GREATEST(s, prev_max_e), 0)
                    END) AS BIGINT) AS covered_seconds
    FROM swept GROUP BY {g}
    """


def peak_concurrency(
    df: DataFrame,
    group_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-group PEAK number of simultaneously-open intervals (max
    concurrent sessions/streams/jobs) and the earliest instant it is
    reached — capacity planning's first question, answered exactly by
    the +1/-1 boundary sweep: explode each interval to a (+1 at
    start, -1 at end) delta, running-sum over one ordered window per
    group (ends sort before coincident starts: a session ending at t
    does not overlap one starting at t), take the max.

    Two rows per interval, one keyed window, one aggregation — the
    same linear shape at any scale.
    """
    from pyspark.sql import Window

    g = [F.col(x) for x in group_cols]
    base = df.select(
        *g,
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    ).filter(F.col("e") > F.col("s"))
    deltas = base.select(
        *g, F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(base.select(*g, F.col("e").alias("t"), F.lit(-1).alias("d")))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = deltas.withColumn("open", F.sum("d").over(w))
    # `running` feeds both the peak aggregation and the first-instant
    # filter; checkpoint so the window sweep runs once
    running = checkpoint(running)
    peak = running.groupBy(*group_cols).agg(F.max("open").alias("peak"))
    first_t = (
        running.join(peak, group_cols)
        .filter(F.col("open") == F.col("peak"))
        .groupBy(*group_cols)
        .agg(F.min("t").alias("first_peak_ts"), F.max("peak").alias("pk"))
    )
    return first_t.select(
        *g,
        F.col("pk").cast("bigint").alias("peak_concurrent"),
        F.col("first_peak_ts").cast("bigint").alias("first_peak_ts"),
    )


def peak_concurrency_sql(
    table_sql: str, group_cols: list[str], start_col: str, end_col: str
) -> str:
    g = ", ".join(group_cols)
    return f"""
    WITH base AS (
      SELECT {g}, CAST({start_col} AS BIGINT) AS s, CAST({end_col} AS BIGINT) AS e
      FROM ({table_sql}) WHERE {end_col} > {start_col}
    ),
    deltas AS (
      SELECT {g}, s AS t, 1 AS d FROM base
      UNION ALL
      SELECT {g}, e AS t, -1 AS d FROM base
    ),
    running AS (
      SELECT {g}, t, SUM(d) OVER (PARTITION BY {g} ORDER BY t, d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
      FROM deltas
    ),
    peak AS (SELECT {g}, MAX(open) AS pk FROM running GROUP BY {g})
    SELECT r.{group_cols[0]}{"".join(", r." + c for c in group_cols[1:])},
           CAST(MAX(p.pk) AS BIGINT) AS peak_concurrent,
           CAST(MIN(r.t) AS BIGINT) AS first_peak_ts
    FROM running r JOIN peak p
      ON {" AND ".join(f"r.{c} = p.{c}" for c in group_cols)}
     AND r.open = p.pk
    GROUP BY {", ".join("r." + c for c in group_cols)}
    """


def weekly_churn(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
) -> DataFrame:
    """Week-over-week churn ledger: per week, how many active entities
    did NOT return the following week — the leading retention KPI,
    exact (``cohort_retention`` answers "of the week-w cohort, who
    came back in week w+k"; churn answers the complementary "of
    week-w actives, who vanished at w+1").

    One distinct (entity, week) table, one self equi-join shifted by a
    week, one week-level aggregation — all shuffles on the entity/week
    keys.  The trailing week is excluded (its w+1 is unobserved, every
    entity would count churned).  ``churn_ppm`` is exact integer.
    """
    week = F.expr(
        f"datediff(CAST({ts_col} AS DATE), DATE '1970-01-01') div 7"
    ).cast("bigint")
    active = df.select(
        F.col(entity_col).alias("e"), week.alias("w")
    ).distinct()
    nxt = active.select("e", (F.col("w") - 1).alias("w"), F.lit(1).alias("__ret"))
    flagged = active.join(nxt, ["e", "w"], "left")
    per_week = flagged.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active"),
        F.sum(F.coalesce("__ret", F.lit(0))).cast("bigint").alias("n_retained"),
    )
    from pyspark.sql import Window

    # week-level table is tiny (one row per calendar week) — the
    # unpartitioned max here ranks ~thousands of rows, not entities
    wmax = F.max("w").over(Window.partitionBy())
    return (
        per_week.withColumn("__wmax", wmax)
        .filter(F.col("w") < F.col("__wmax"))
        .select(
            F.col("w").alias("week"),
            "n_active",
            (F.col("n_active") - F.col("n_retained"))
            .cast("bigint")
            .alias("n_churned"),
            F.expr("1000000 * (n_active - n_retained) div n_active")
            .cast("bigint")
            .alias("churn_ppm"),
        )
    )


def weekly_churn_sql(table_sql: str, entity_col: str, ts_col: str) -> str:
    return f"""
    WITH active AS (
      SELECT DISTINCT {entity_col} AS e,
             datediff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)) // 7
               AS w
      FROM ({table_sql})
    ),
    flagged AS (
      SELECT a.e, a.w, CASE WHEN n.e IS NULL THEN 0 ELSE 1 END AS ret
      FROM active a LEFT JOIN active n ON a.e = n.e AND n.w = a.w + 1
    ),
    per_week AS (
      SELECT w, COUNT(*) AS n_active, SUM(ret) AS n_retained
      FROM flagged GROUP BY w
    )
    SELECT w AS week, CAST(n_active AS BIGINT) AS n_active,
           CAST(n_active - n_retained AS BIGINT) AS n_churned,
           CAST(1000000 * (n_active - n_retained) // n_active AS BIGINT)
             AS churn_ppm
    FROM per_week WHERE w < (SELECT MAX(w) FROM per_week)
    """


def rfm_scores(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    monetary_type: str,
    type_col: str,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM segmentation, exact and distributed: per entity, recency
    (last active day), frequency (event count) and monetary (total
    cents of ``monetary_type`` events) each ranked into ``n_tiles``
    equal-population tiles — score ``n_tiles`` = most recent / most
    frequent / highest spend — and combined as ``rfm_code = 100r +
    10f + m``, the classic marketing segmentation grid.

    The tile assignment is a GLOBAL ranking (quantile bucketing +
    offset arithmetic — :func:`ranking.apply_global_row_number`),
    never a single-partition window — three ranked passes over the
    entity-level table, each a total order with the entity id as
    tiebreak, so the result is deterministic and equals
    ``NTILE``-free ``1 + n_tiles*(rank-1) div n`` arithmetic in the
    SQL oracle exactly.

    The three rankings' driver-side stats (quantile cuts, bucket
    offsets, total) all run against the entity CHECKPOINT from three
    concurrent driver threads (guide §2.6): the former chained
    ``global_row_number`` calls ran each tile's two stats jobs over
    the PREVIOUS tiles' window plan — by the third tile every scalar
    job re-executed two full rank windows — and attached the total via
    a per-tile broadcast cross join. Stats depend only on column
    values, so the scores are bit-identical; the total is the offsets'
    own sum (one literal, zero extra jobs).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from cosmos_xenna_spark.operators.ranking import (
        apply_global_row_number,
        global_rank_stats,
    )

    day = F.expr(
        f"datediff(CAST({ts_col} AS DATE), DATE '1970-01-01')"
    ).cast("bigint")
    ent = checkpoint(
        df.select(
            F.col(entity_col).alias("e"),
            day.alias("d"),
            F.when(
                F.col(type_col) == monetary_type,
                F.floor(F.col(value_col) * 100),
            )
            .otherwise(0)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("e")
        .agg(
            F.max("d").alias("last_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("spend_cents"),
        )
    )

    metrics = [
        ("last_day", "r_score"),
        ("n_events", "f_score"),
        ("spend_cents", "m_score"),
    ]
    wrap = inheritable_thread_target(df.sparkSession)
    if not callable(wrap):  # PYSPARK_PIN_THREAD=false fallback (scc_labels)
        wrap = inheritable_thread_target
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(wrap(lambda k=key: global_rank_stats(ent, k)))
            for key, _ in metrics
        ]
        stats = [f.result() for f in futs]
    total = stats[0][2]
    for (key, out), (cuts, offsets, _) in zip(metrics, stats):
        ent = apply_global_row_number(
            ent, [key, "e"], cuts, offsets, out_col="__rn"
        )
        ent = ent.withColumn(
            out,
            F.expr(f"1 + {n_tiles} * (__rn - 1) div {total}L").cast("bigint"),
        ).drop("__rn")
    return ent.select(
        F.col("e").cast("bigint").alias(entity_col),
        "last_day",
        "n_events",
        "spend_cents",
        "r_score",
        "f_score",
        "m_score",
        (100 * F.col("r_score") + 10 * F.col("f_score") + F.col("m_score"))
        .cast("bigint")
        .alias("rfm_code"),
    )


def rfm_scores_sql(
    table_sql: str,
    entity_col: str,
    ts_col: str,
    value_col: str,
    monetary_type: str,
    type_col: str,
    n_tiles: int = 5,
) -> str:
    return f"""
    WITH ent AS (
      SELECT {entity_col} AS e,
             MAX(datediff('day', DATE '1970-01-01', CAST({ts_col} AS DATE)))
               AS last_day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN {type_col} = '{monetary_type}'
                           THEN CAST(FLOOR({value_col} * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS spend_cents
      FROM ({table_sql}) GROUP BY {entity_col}
    ),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (ORDER BY last_day, e) AS rr,
        ROW_NUMBER() OVER (ORDER BY n_events, e) AS rf,
        ROW_NUMBER() OVER (ORDER BY spend_cents, e) AS rm,
        COUNT(*) OVER () AS n
      FROM ent
    )
    SELECT CAST(e AS BIGINT) AS {entity_col},
           CAST(last_day AS BIGINT) AS last_day, n_events, spend_cents,
           CAST(1 + {n_tiles} * (rr - 1) // n AS BIGINT) AS r_score,
           CAST(1 + {n_tiles} * (rf - 1) // n AS BIGINT) AS f_score,
           CAST(1 + {n_tiles} * (rm - 1) // n AS BIGINT) AS m_score,
           CAST(100 * (1 + {n_tiles} * (rr - 1) // n)
                + 10 * (1 + {n_tiles} * (rf - 1) // n)
                + (1 + {n_tiles} * (rm - 1) // n) AS BIGINT) AS rfm_code
    FROM ranked
    """


def sessionize_capped(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_secs: int = 1800,
    max_secs: int = 14400,
) -> DataFrame:
    """Dual-condition sessionization (the Adobe/GA semantics): a new
    session starts when EITHER the inactivity gap exceeds ``gap_secs``
    OR the running session duration would exceed ``max_secs`` — the
    second rule is what plain gap-cumsum sessionization
    (``q_sessionization``) cannot express, because the split point
    depends on the session start chosen by PREVIOUS splits: an
    inherently sequential fold.

    So this is a deliberate Python island: ``applyInPandas`` per
    entity (the Stage-API pattern), walking each entity's
    (ts, id)-ordered events once.  Emits ``(entity, event_id,
    session_id, session_start_s)`` — all bigint, session ids 1-based
    per entity in time order.  The DuckDB oracle replays the identical
    walk as a per-entity recursive CTE, so the sequential semantics
    have a hard cross-engine check.

    Scale: per-entity series are bounded (events per user per horizon);
    the one shuffle is the entity key, the walk is O(rows) in Arrow
    batches.
    """
    import pandas as pd

    base = events.select(
        F.col(entity_col).cast("long").alias("entity"),
        F.col(id_col).cast("long").alias("event_id"),
        F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) div 1000000")
        .cast("long")
        .alias("ts_s"),
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_s", "event_id"])
        sess, starts = [], []
        sid, prev_ts, sess_start = 0, None, None
        for t in pdf["ts_s"]:
            t = int(t)
            if (
                prev_ts is None
                or t - prev_ts > gap_secs
                or t - sess_start > max_secs
            ):
                sid += 1
                sess_start = t
            sess.append(sid)
            starts.append(sess_start)
            prev_ts = t
        pdf = pdf.assign(session_id=sess, session_start_s=starts)
        return pdf[["entity", "event_id", "session_id", "session_start_s"]]

    return base.groupBy("entity").applyInPandas(
        walk,
        schema="entity long, event_id long, session_id long, session_start_s long",
    )


def sessionize_capped_sql(
    table_sql: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_secs: int = 1800,
    max_secs: int = 14400,
) -> str:
    return f"""
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT CAST({entity_col} AS BIGINT) AS entity,
             CAST({id_col} AS BIGINT) AS event_id,
             CAST(epoch_us({ts_col}) // 1000000 AS BIGINT) AS ts_s,
             ROW_NUMBER() OVER (PARTITION BY {entity_col}
               ORDER BY epoch_us({ts_col}), {id_col}) AS rn
      FROM ({table_sql})
    ),
    walk(entity, event_id, ts_s, rn, session_id, session_start_s) AS (
      SELECT entity, event_id, ts_s, rn, CAST(1 AS BIGINT), ts_s
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.entity, b.event_id, b.ts_s, b.rn,
             CASE WHEN b.ts_s - w.ts_s > {gap_secs}
                    OR b.ts_s - w.session_start_s > {max_secs}
                  THEN w.session_id + 1 ELSE w.session_id END,
             CASE WHEN b.ts_s - w.ts_s > {gap_secs}
                    OR b.ts_s - w.session_start_s > {max_secs}
                  THEN b.ts_s ELSE w.session_start_s END
      FROM base b JOIN walk w ON b.entity = w.entity AND b.rn = w.rn + 1
    )
    SELECT entity, event_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(session_start_s AS BIGINT) AS session_start_s
    FROM walk
    """


def interval_iou_pairs(
    iv: DataFrame,
    key_col: str,
    id_col: str,
    lo_col: str,
    hi_col: str,
    iou_ppm_threshold: int,
    bucket_width: int,
) -> DataFrame:
    """Clip-overlap dedup (the video-curation shape: a long recording
    split by several cut detectors yields near-identical clips): all
    within-key interval pairs whose intersection-over-union meets
    ``iou_ppm_threshold`` — exact integers throughout (``lo``/``hi``
    are integer seconds; the IoU test is the cross-multiplied
    ``1e6 * inter >= thr * union``, never a float ratio).

    Candidates come from the interval_overlap_join grid rewrite scoped
    to the key: both sides explode to the (key, time-cell) ids they
    touch, equi-join on that composite — never a per-key all-pairs —
    and a pair overlapping several shared cells is kept only in the
    cell containing the overlap's START (exactly-once without a
    post-join distinct). ``bucket_width`` near the typical clip length
    keeps the explode factor ~1-2 cells per row. The exploded frame is
    checkpointed once and feeds both join sides.

    Output: (key, keep_id, dup_id, inter_s, union_s, iou_ppm) with
    ``keep_id < dup_id`` (survivor = lower id, the dedup convention).
    """
    w = int(bucket_width)
    cells = checkpoint(iv.withColumn(
        "__cell",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(F.col(hi_col) / w).cast("long"),
            )
        ),
    ))
    a = cells.select(
        F.col(key_col).alias("__k"),
        F.col("__cell"),
        F.col(id_col).alias("keep_id"),
        F.col(lo_col).alias("__lo_a"),
        F.col(hi_col).alias("__hi_a"),
    )
    b = cells.select(
        F.col(key_col).alias("__k"),
        F.col("__cell"),
        F.col(id_col).alias("dup_id"),
        F.col(lo_col).alias("__lo_b"),
        F.col(hi_col).alias("__hi_b"),
    )
    inter = F.least("__hi_a", "__hi_b") - F.greatest("__lo_a", "__lo_b")
    union = (
        (F.col("__hi_a") - F.col("__lo_a"))
        + (F.col("__hi_b") - F.col("__lo_b"))
        - inter
    )
    return (
        a.join(b, ["__k", "__cell"])
        .filter(F.col("keep_id") < F.col("dup_id"))
        .filter(
            F.col("__cell")
            == F.floor(F.greatest("__lo_a", "__lo_b") / w).cast("long")
        )
        .withColumn("inter_s", inter.cast("bigint"))
        .withColumn("union_s", union.cast("bigint"))
        .filter(
            (F.col("inter_s") > 0)
            & (F.col("inter_s") * 1000000 >= F.lit(int(iou_ppm_threshold)) * F.col("union_s"))
        )
        .select(
            F.col("__k").alias(key_col),
            "keep_id",
            "dup_id",
            "inter_s",
            "union_s",
            F.expr("1000000 * inter_s DIV union_s").cast("bigint").alias("iou_ppm"),
        )
    )


def interval_iou_pairs_sql(
    iv_sql: str,
    key_col: str,
    id_col: str,
    iou_ppm_threshold: int,
) -> str:
    """DuckDB mirror — the naive within-key self-join (no grid cells:
    the oracle certifies that the grid rewrite emits exactly the
    all-pairs result)."""
    return f"""
    SELECT {key_col}, keep_id, dup_id, inter_s, union_s,
           CAST(1000000 * inter_s // union_s AS BIGINT) AS iou_ppm
    FROM (
      SELECT a.{key_col},
             a.{id_col} AS keep_id, b.{id_col} AS dup_id,
             CAST(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) AS BIGINT) AS inter_s,
             CAST((a.hi - a.lo) + (b.hi - b.lo)
                  - (LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo)) AS BIGINT) AS union_s
      FROM ({iv_sql}) a JOIN ({iv_sql}) b
        ON a.{key_col} = b.{key_col} AND a.{id_col} < b.{id_col}
    )
    WHERE inter_s > 0 AND 1000000 * inter_s >= {int(iou_ppm_threshold)} * union_s
    """


def churn_hazard(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    churn_gap_days: int = 28,
    week_days: int = 7,
) -> DataFrame:
    """Survival-analysis hazard table over user tenure (the
    Kaplan-Meier input, kept integer-exact): per tenure week ``w``,
    how many users were still at risk, how many churned AT that
    tenure, and the discrete hazard ``1e6 * d_w div n_risk_w``.

    A user's tenure is ``(last_day - first_day) div week_days``; a user
    has CHURNED when their last event is more than ``churn_gap_days``
    before the corpus end (otherwise they are right-CENSORED: they
    still contribute to n_risk up to their observed tenure — dropping
    them is the classic survival-analysis bias).

    One per-entity aggregation, the single-row corpus-end broadcast
    (allowlisted), then the risk set by reverse cumulative sum over
    the WEEK-COUNT frame — bounded by the observation span in weeks,
    never corpus rows (allowlisted global window on that tiny frame).
    """
    day = F.expr(f"unix_micros({ts_col}) div 86400000000")
    per_user = events.groupBy(entity_col).agg(
        F.min(day).alias("first_day"), F.max(day).alias("last_day")
    )
    end = events.agg(F.max(day).alias("corpus_end"))
    weeks = (
        per_user.join(F.broadcast(end))
        .select(
            F.expr(f"(last_day - first_day) div {week_days}").alias("tenure_week"),
            (
                F.col("last_day")
                <= F.col("corpus_end") - F.lit(int(churn_gap_days))
            )
            .cast("bigint")
            .alias("churned"),
        )
        .groupBy("tenure_week")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("churned").cast("bigint").alias("n_churned"),
        )
    )
    w = Window.orderBy(F.asc("tenure_week")).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return weeks.select(
        F.col("tenure_week").cast("bigint").alias("tenure_week"),
        F.sum("c").over(w).cast("bigint").alias("n_risk"),
        "n_churned",
        F.expr("1000000 * n_churned DIV SUM(c) OVER (ORDER BY tenure_week"
               " ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
        .cast("bigint")
        .alias("hazard_ppm"),
    )


def churn_hazard_sql(
    events_sql: str,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    churn_gap_days: int = 28,
    week_days: int = 7,
) -> str:
    """DuckDB mirror — identical day/tenure arithmetic, censoring rule
    and reverse-cumulative risk set."""
    return f"""
    WITH pu AS (
      SELECT {entity_col},
             MIN(epoch_us({ts_col}) // 86400000000) AS first_day,
             MAX(epoch_us({ts_col}) // 86400000000) AS last_day
      FROM ({events_sql}) GROUP BY {entity_col}
    ),
    e AS (SELECT MAX(epoch_us({ts_col}) // 86400000000) AS corpus_end
          FROM ({events_sql})),
    weeks AS (
      SELECT (last_day - first_day) // {week_days} AS tenure_week,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN last_day <= corpus_end - {churn_gap_days}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
      FROM pu CROSS JOIN e
      GROUP BY 1
    )
    SELECT CAST(tenure_week AS BIGINT) AS tenure_week,
           CAST(SUM(c) OVER w AS BIGINT) AS n_risk,
           n_churned,
           CAST(1000000 * n_churned // (SUM(c) OVER w) AS BIGINT) AS hazard_ppm
    FROM weeks
    WINDOW w AS (ORDER BY tenure_week
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    """


def arrival_disorder_audit(
    events: DataFrame,
    group_col: str = "event_type",
    entity_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Watermark-sizing audit: how out-of-order does each stream
    partition actually arrive?  Within each entity's GENERATION order
    (``seq_col``), an event is LATE when its event time is behind the
    running maximum event time seen so far; the audit reports, per
    group, the late-event rate and the maximum lateness in seconds —
    exactly the statistic that picks a streaming watermark delay (a
    watermark below ``max_late_s`` drops data; far above it holds
    state needlessly).

    One keyed window (entity, ordered by seq) + one group aggregation;
    exact integers (epoch seconds, ppm rate).
    """
    w = (
        Window.partitionBy(entity_col)
        .orderBy(F.asc(seq_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sec = F.expr(f"unix_micros({ts_col}) div 1000000")
    lateness = F.greatest(
        F.lit(0).cast("bigint"),
        (F.max(sec).over(w) - sec).cast("bigint"),
    )
    audited = events.select(
        F.col(group_col).alias("g"),
        F.coalesce(lateness, F.lit(0)).alias("__late_s"),
    )
    return (
        audited.groupBy(F.col("g").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((F.col("__late_s") > 0).cast("bigint"))
            .cast("bigint")
            .alias("n_late"),
            F.expr("1000000 * SUM(CAST(__late_s > 0 AS BIGINT)) DIV COUNT(*)")
            .cast("bigint")
            .alias("late_ppm"),
            F.max("__late_s").cast("bigint").alias("max_late_s"),
        )
    )


def arrival_disorder_audit_sql(
    events_sql: str,
    group_col: str = "event_type",
    entity_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> str:
    """DuckDB mirror — identical running-max lateness and ratios."""
    return f"""
    WITH audited AS (
      SELECT {group_col} AS g,
             GREATEST(0, COALESCE(
               MAX(epoch_us({ts_col}) // 1000000) OVER (
                 PARTITION BY {entity_col} ORDER BY {seq_col}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - epoch_us({ts_col}) // 1000000, 0)) AS late_s
      FROM ({events_sql})
    )
    SELECT g AS {group_col},
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(1000000 * SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS late_ppm,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s
    FROM audited GROUP BY g
    """

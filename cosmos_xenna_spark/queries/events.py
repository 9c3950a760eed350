"""Event-stream queries in batch form (the streaming module runs the
same shapes as Structured Streaming; DuckDB has no streaming, so the
oracle checks the batch-equivalent semantics — SURVEY.md §5 port plan).

Windowing parity: Spark ``F.window(ts, size [, slide])`` buckets are
epoch-aligned, identical to DuckDB ``time_bucket(INTERVAL, ts)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.functions import dec
from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.eventops import (
    rolling_distinct_count_sql,
    last_touch_attribution,
    last_touch_attribution_sql,
    ohlc_bars,
    ohlc_bars_sql,
    dedup_time_window,
    gaps_islands,
    gaps_islands_sql,
    dedup_time_window_sql,
    transition_matrix,
    transition_matrix_sql,
)
from cosmos_xenna_spark.queries import register


@register(
    "q_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS v_sum
    FROM events
    GROUP BY 1, 2
    """,
    description="tumbling 5-minute event-time window (batch form of streaming agg)",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).cast("double").alias("v_sum"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "v_sum")
    )


@register(
    "q_sliding_window",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL (o.off) MINUTE AS w_start,
             user_id, value
      FROM events, (SELECT UNNEST([0, 5]) AS off) o
    )
    SELECT w_start, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS v_sum
    FROM expanded
    GROUP BY w_start
    """,
    description="sliding window 10m size / 5m slide (each event in 2 windows)",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).cast("double").alias("v_sum"))
        .select(F.col("w.start").alias("w_start"), "n", "v_sum")
    )


@register(
    "q_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTES
                  THEN 1 ELSE 0 END AS new_s,
             event_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTES AS session_end,
           COUNT(*) AS n
    FROM numbered
    GROUP BY user_id, sid
    """,
    description="session windows (10-minute gap) — Spark session_window vs "
    "islands-equivalent SQL; session_end = last event + gap",
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )


@register(
    "q_dedup_events",
    oracle="""
    SELECT user_id, event_type,
           time_bucket(INTERVAL '1 minute', ts) AS minute_start,
           MIN(event_id) AS first_event_id
    FROM events
    GROUP BY 1, 2, 3
    """,
    description="event dedup: first event per (user, type, minute) — the batch "
    "form of streaming dropDuplicates with watermark",
)
def q_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type", F.window("ts", "1 minute").alias("w"))
        .agg(F.min("event_id").alias("first_event_id"))
        .select(
            "user_id",
            "event_type",
            F.col("w.start").alias("minute_start"),
            "first_event_id",
        )
    )


@register(
    "q_stream_static_join",
    oracle="""
    SELECT c_mktsegment, event_type, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS v_sum
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    description="stream-static join: events enriched with a broadcast dimension",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec("value")).cast("double").alias("v_sum"))
    )


@register(
    "q_late_data_watermark",
    oracle="""
    WITH watermarked AS (
      SELECT *,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - INTERVAL 30 MINUTES AS wm
      FROM events
    )
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, COUNT(*) AS n
    FROM watermarked
    WHERE ts >= wm
    GROUP BY 1
    """,
    description="watermark late-data policy in batch form: drop events older "
    "than 30min behind the running max event time (arrival order = event_id); "
    "running max computed scale-safe via quantile buckets, no global window",
)
def q_late_data_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.ranking import global_running_max

    ev = load_table(spark, sf_dir, "events")
    # Arrival-order running max of event time without an unpartitioned
    # window (which funnels every row through ONE task — fatal at
    # scale): the bucketed prefix-max machinery keeps it parallel.
    with_max = global_running_max(
        ev.withColumn("ts_us", F.unix_micros("ts")),
        "ts_us",
        ["event_id"],
        out_col="run_max_us",
    )
    wm = F.col("run_max_us") - F.lit(30 * 60 * 1_000_000)
    return (
        with_max.filter(F.col("ts_us") >= wm)
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )


@register(
    "q_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    description="ordered funnel view -> click -> purchase: per-step user "
    "counts via sequential conditional-min joins (all shuffles on user_id)",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT)
             AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_day f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    description="cohort retention matrix: users grouped by first-seen day, "
    "distinct-active counts per day offset",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("cohort_day")
    )
    return (
        ev.join(first_day, "user_id")
        .withColumn(
            "day_offset",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"), F.col("cohort_day")
            ).cast("bigint"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "q_transition_matrix",
    oracle=transition_matrix_sql("events", "user_id", "event_type", "ts", "event_id"),
    description="first-order Markov transition matrix over each user's "
    "time-ordered event sequence — one keyed window shuffle, tiny "
    "(src, dst) output; probabilities are exact integer ratios",
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev, "user_id", "event_type", "ts", "event_id")


_DEDUP_WIDTH_SECS = 600
_EV_COLS = "event_id, user_id, event_type, ts"


@register(
    "q_dedup_time_window",
    oracle=dedup_time_window_sql(
        "events", _DEDUP_WIDTH_SECS, "user_id", "event_type", "ts", "event_id", _EV_COLS
    ),
    description="tumbling-window duplicate suppression: first event per "
    "(user, type) in each 10-minute bucket — row-local bucket id, one "
    "fine-grained keyed window (batch form of streaming dropDuplicates "
    "with watermark)",
)
def q_dedup_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return dedup_time_window(
        ev, _DEDUP_WIDTH_SECS, "user_id", "event_type", "ts", "event_id"
    ).select("event_id", "user_id", "event_type", "ts")


@register(
    "q_gaps_islands",
    oracle=gaps_islands_sql("events", "user_id", "ts"),
    description="gaps-and-islands: maximal runs of consecutive active "
    "days per user via the rank-difference trick — distinct-day "
    "collapse first, integer day arithmetic, fine-grained keyed window",
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return gaps_islands(ev, "user_id", "ts").withColumnRenamed("entity", "user_id")


@register(
    "q_ohlc_bars",
    oracle=ohlc_bars_sql("events", "user_id", "ts", "value", "event_id", "hour"),
    description="OHLC downsampling bars per (user, hour): open/close via "
    "deterministic arg-min/arg-max on a padded (epoch, id) key, high/low "
    "exact extremes — one fine-grained groupBy shuffle, nothing sums floats",
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(ev, "user_id", "ts", "value", "event_id", "hour")


_ATTR_WINDOW_SECS = 1800


@register(
    "q_attribution_last_touch",
    oracle=last_touch_attribution_sql(
        "events", "purchase", ("click", "view"), _ATTR_WINDOW_SECS,
        "user_id", "event_type", "ts", "event_id",
    ),
    description="last-touch attribution: credit each purchase to the most "
    "recent click/view by the same user within 30 minutes — one keyed "
    "window shuffle, strictly-preceding rows frame, total (ts, id) order",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "purchase", ("click", "view"), _ATTR_WINDOW_SECS,
        "user_id", "event_type", "ts", "event_id",
    )


@register(
    "q_conversion_lag_stats",
    oracle=(
        "SELECT src_type, CAST(COUNT(*) AS BIGINT) AS n_conversions, "
        "CAST(FLOOR(quantile_cont(delay_us, 0.25)) AS BIGINT) AS p25_us, "
        "CAST(FLOOR(quantile_cont(delay_us, 0.5)) AS BIGINT) AS p50_us, "
        "CAST(FLOOR(quantile_cont(delay_us, 0.75)) AS BIGINT) AS p75_us "
        "FROM ("
        + last_touch_attribution_sql(
            "events", "purchase", ("click", "view"), _ATTR_WINDOW_SECS,
            "user_id", "event_type", "ts", "event_id",
        )
        + ") WHERE src_event_id IS NOT NULL GROUP BY src_type"
    ),
    description="time-to-convert profile per source type: exact quartiles "
    "of the purchase delay over attributed conversions (integer micros -> "
    "binary-exact interpolation fractions, engine-identical); composition "
    "of the attribution window + one tiny grouped aggregate",
)
def q_conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    attr = last_touch_attribution(
        ev, "purchase", ("click", "view"), _ATTR_WINDOW_SECS,
        "user_id", "event_type", "ts", "event_id",
    )
    return (
        attr.filter(F.col("src_event_id").isNotNull())
        .groupBy("src_type")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.expr("CAST(FLOOR(percentile(delay_us, 0.25)) AS BIGINT)").alias("p25_us"),
            F.expr("CAST(FLOOR(percentile(delay_us, 0.5)) AS BIGINT)").alias("p50_us"),
            F.expr("CAST(FLOOR(percentile(delay_us, 0.75)) AS BIGINT)").alias("p75_us"),
        )
    )


@register(
    "q_wow_growth",
    oracle="""
    WITH weekly AS (
      SELECT event_type, date_trunc('week', ts) AS week_start,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_start, n,
           LAG(n) OVER (PARTITION BY event_type ORDER BY week_start) AS prev_n,
           CASE WHEN LAG(n) OVER (PARTITION BY event_type ORDER BY week_start) IS NOT NULL
                THEN (1000000 * (n - LAG(n) OVER (PARTITION BY event_type ORDER BY week_start)))
                     // LAG(n) OVER (PARTITION BY event_type ORDER BY week_start)
           END AS growth_ppm
    FROM weekly
    """,
    description="week-over-week growth per event type: weekly counts + lag "
    "window + exact integer ppm change — the standard reporting shape, "
    "one tiny keyed window over the aggregated frame",
)
def q_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("week_start")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week_start")
    out = weekly.withColumn("prev_n", F.lag("n").over(w))
    return out.select(
        "event_type",
        "week_start",
        "n",
        "prev_n",
        F.when(
            F.col("prev_n").isNotNull(),
            F.expr("1000000 * (n - prev_n) DIV prev_n"),
        ).alias("growth_ppm"),
    )


@register(
    "q_rolling_distinct",
    oracle=rolling_distinct_count_sql(
        "SELECT event_id, user_id, ts, event_type FROM events",
        ["user_id"],
        "ts",
        "event_type",
        window_rows=5,
        order_tiebreak=["event_id"],
    ).replace("SELECT *", "SELECT event_id, user_id", 1),
    description="exact distinct event-type count over each user's "
    "trailing 5-event window (behavioral-diversity feature): one keyed "
    "window carrying the frame as collect_list, row-local "
    "array_distinct+size finish — O(window) state, no history self-join; "
    "oracle is DuckDB's native COUNT(DISTINCT) OVER frame",
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.operators.eventops import rolling_distinct_count

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    out = rolling_distinct_count(
        ev, ["user_id"], "ts", "event_type", window_rows=5, order_tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "n_distinct")


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    audience_overlap,
    audience_overlap_sql,
)


@register(
    "q_audience_overlap",
    oracle=audience_overlap_sql(
        "SELECT user_id, event_type FROM events", "user_id", "event_type"
    ),
    description="pairwise audience Jaccard between event types (distinct-user "
    "overlap): co-membership pairs generated entity-locally (sorted distinct "
    "group set per user -> row-local combination explode, bounded by the "
    "group vocabulary) — never a membership self-join; group sizes broadcast "
    "back; oracle is the all-pairs self-join",
)
def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return audience_overlap(ev, "user_id", "event_type")


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    event_path_ngrams,
    event_path_ngrams_sql,
)


@register(
    "q_event_paths",
    oracle=event_path_ngrams_sql(
        "SELECT user_id, ts, event_id, event_type FROM events",
        ["user_id"],
        "ts",
        "event_type",
        n=3,
        order_tiebreak=["event_id"],
    ),
    description="frequent 3-step behavioral paths: every run of 3 consecutive "
    "event types per user, counted corpus-wide — 2 flat lead terms in ONE "
    "keyed window pass (no session self-join, no explode), one count "
    "aggregation on the path string with map-side partials",
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return event_path_ngrams(
        ev, ["user_id"], "ts", "event_type", n=3, order_tiebreak=["event_id"]
    )


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    temporal_cooccurrence,
    temporal_cooccurrence_sql,
)

_COOC_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_temporal_cooccurrence",
    oracle=temporal_cooccurrence_sql(
        "SELECT user_id, ts, event_type FROM events",
        ["user_id"],
        "ts",
        "event_type",
        _COOC_TYPES,
        window_secs=3600,
    ),
    description="temporal co-occurrence matrix: for each ordered type pair "
    "(a, b), how often b strictly follows a within 1 hour for the same user "
    "— one conditional range-frame count per type, ALL riding one keyed "
    "window exchange (no event self-join); output reduces to the "
    "|types|^2 matrix with map-side partials",
)
def q_temporal_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return temporal_cooccurrence(
        ev, ["user_id"], "ts", "event_type", _COOC_TYPES, window_secs=3600
    )


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    audience_overlap_minhash,
    audience_overlap_minhash_sql,
)


@register(
    "q_audience_overlap_sketch",
    oracle=audience_overlap_minhash_sql(
        "SELECT user_id, event_type FROM events", "user_id", "event_type", n_hashes=64
    ),
    description="MinHash-sketch audience overlap (64 components): each "
    "group's entity set compresses to a fixed signature in ONE aggregation "
    "pass with map-side partial mins, pairs compare 512-byte signatures "
    "from a driver-built vocabulary literal (equi-joins only, corpus never "
    "touched downstream) — the scale path of q_audience_overlap; "
    "deterministic seeded hashes make the estimator itself SQL-oracle-able, "
    "and a test pins its accuracy against the exact operator",
)
def q_audience_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return audience_overlap_minhash(ev, "user_id", "event_type", n_hashes=64)


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    linear_attribution,
    linear_attribution_sql,
)


@register(
    "q_attribution_linear",
    oracle=linear_attribution_sql("SELECT * FROM events"),
    description="linear multi-touch attribution: each purchase's credit "
    "split equally (exact integer ppm) across every click/view by the same "
    "user within 30 min before it — ONE keyed range-frame window carries "
    "in-window sources as a sorted struct list, row-local explode; "
    "unattributed conversions survive as NULL-source rows; no event "
    "self-join",
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return linear_attribution(ev)


from cosmos_xenna_spark.operators.eventops import dwell_time, dwell_time_sql  # noqa: E402


@register(
    "q_dwell_time",
    oracle=dwell_time_sql(
        "SELECT user_id, ts, event_id, event_type FROM events",
        ["user_id"],
        "ts",
        "event_type",
        order_tiebreak=["event_id"],
    ),
    description="time-in-state profile: per (user, event type) total dwell "
    "microseconds, each state held until the user's next event (trailing "
    "event unobserved, not infinite) — one keyed lead window + one "
    "fine-grained aggregation, exact integer durations",
)
def q_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return dwell_time(ev, ["user_id"], "ts", "event_type", order_tiebreak=["event_id"])


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    dau_wau_stickiness,
    dau_wau_stickiness_sql,
)


@register(
    "q_dau_wau",
    oracle=dau_wau_stickiness_sql("SELECT ts, user_id FROM events", "ts", "user_id"),
    description="DAU/WAU stickiness timeline with EXACT trailing-7-day "
    "distinct counts — each (day, user) exploded to the 7 days it "
    "contributes to, so the trailing distinct is a fine-grained keyed "
    "distinct + count (no calendar-global window, no HLL approximation); "
    "integer day arithmetic, exact ppm ratio",
)
def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    return dau_wau_stickiness(ev, "ts", "user_id")


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    burst_days,
    burst_days_sql,
    time_weighted_average,
    time_weighted_average_sql,
)


@register(
    "q_burst_days",
    oracle=burst_days_sql(
        "SELECT ts, event_type FROM events", "ts", "event_type",
        mult_ppt=1300, min_base=7, window_days=7,
    ),
    description="Kleinberg-lite burst detection per event type: days whose "
    "count clears 1.3x the trailing 7-day daily average (RANGE frame over "
    "the integer day key — calendar-gap safe; baseline strictly before the "
    "day so a burst can't dilute it); integer test, div-exact ppt ratio",
)
def q_burst_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    return burst_days(ev, "ts", "event_type", mult_ppt=1300, min_base=7)


@register(
    "q_twap",
    oracle=time_weighted_average_sql(
        "SELECT ts, user_id, value, event_id FROM events",
        ["user_id"], "ts", "value", "event_id",
    ),
    description="time-weighted average value (TWAP) per user and day: "
    "cent-quantized values weighted by microseconds-to-next-observation "
    "(arithmetic means over-weight chatty periods); day's trailing "
    "observation unobserved by contract; one lead window + one agg, "
    "integer-exact",
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value", "event_id"
    )
    return time_weighted_average(ev, ["user_id"], "ts", "value", "event_id")


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    interval_union_seconds,
    interval_union_seconds_sql,
    peak_concurrency,
    peak_concurrency_sql,
    venn3_overlap,
    venn3_overlap_sql,
)

# synthetic-but-deterministic session intervals over the events table:
# start = epoch seconds, span = 60 + (value floor % 540) seconds —
# overlap structure is data-driven, both engines derive it identically
_INTERVALS_SQL = """
    SELECT user_id, event_type,
           epoch_us(ts) // 1000000 AS s,
           epoch_us(ts) // 1000000 + 60 + (CAST(FLOOR(value) AS BIGINT) % 540)
             AS e
    FROM events
"""


def _intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.expr("unix_micros(ts) div 1000000")
    return ev.select(
        "user_id",
        "event_type",
        s.alias("s"),
        (
            s
            + 60
            + F.pmod(F.floor("value").cast("bigint"), F.lit(540))
        ).alias("e"),
    )


@register(
    "q_venn3",
    oracle=venn3_overlap_sql(
        "SELECT user_id, event_type FROM events",
        "user_id",
        "event_type",
        ("click", "view", "purchase"),
    ),
    description="exact 3-way audience Venn (click/view/purchase users): "
    "one membership aggregation per user (three max flags, ONE shuffle) "
    "then an 8-cell count — the triple-intersection breakdown pairwise "
    "overlap matrices cannot determine",
)
def q_venn3(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    return venn3_overlap(
        ev, "user_id", "event_type", ("click", "view", "purchase")
    )


@register(
    "q_interval_union",
    oracle=interval_union_seconds_sql(
        _INTERVALS_SQL, ["user_id"], "s", "e"
    ),
    description="per-user union-of-intervals engaged seconds (overlapping "
    "sessions never double-count): running-max-of-ends sweep — one keyed "
    "window + one aggregation, exact bigint seconds, no self-join",
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interval_union_seconds(
        _intervals(spark, sf_dir), ["user_id"], "s", "e"
    )


@register(
    "q_peak_concurrency",
    oracle=peak_concurrency_sql(
        _INTERVALS_SQL, ["event_type"], "s", "e"
    ),
    description="peak concurrent sessions per event type and the earliest "
    "instant it is reached: the +1/-1 boundary sweep (ends before "
    "coincident starts) — two rows per interval, one keyed window, exact",
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return peak_concurrency(
        _intervals(spark, sf_dir), ["event_type"], "s", "e"
    )


from cosmos_xenna_spark.operators.joins import (  # noqa: E402
    nearest_time_join,
    nearest_time_join_sql,
)


@register(
    "q_nearest_event_join",
    oracle=nearest_time_join_sql(
        "SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events"
        " WHERE event_type = 'purchase'",
        "SELECT user_id, event_id, epoch_us(ts) AS t_us FROM events"
        " WHERE event_type = 'click'",
        on="user_id",
        left_time="t_us",
        right_time="t_us",
        right_id="event_id",
        left_cols=["user_id", "event_id", "t_us"],
    ),
    description="nearest-in-time join: each purchase attached to the "
    "user's temporally CLOSEST click (backward-only as-of misses the "
    "just-after case) — the as-of union-sweep doubled, one shuffle on the "
    "user key, exact micros distances, fixed mirrored tie rules",
)
def q_nearest_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").alias("t_us"),
        "event_type",
    )
    left = base.filter(F.col("event_type") == "purchase").drop("event_type")
    right = base.filter(F.col("event_type") == "click").drop("event_type")
    return nearest_time_join(
        left, right, on="user_id", left_time="t_us", right_time="t_us",
        right_id="event_id",
    )


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    rfm_scores,
    rfm_scores_sql,
    weekly_churn,
    weekly_churn_sql,
)


@register(
    "q_churn_rate",
    oracle=weekly_churn_sql(
        "SELECT user_id, ts FROM events", "user_id", "ts"
    ),
    description="week-over-week churn ledger: per week, actives who did "
    "NOT return the next week (exact ppm; trailing week excluded — its "
    "successor is unobserved) — one distinct (user, week) table + one "
    "shifted self equi-join + one week-level aggregation",
)
def q_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return weekly_churn(ev, "user_id", "ts")


@register(
    "q_rfm_scores",
    oracle=rfm_scores_sql(
        "SELECT user_id, ts, value, event_type FROM events",
        "user_id",
        "ts",
        "value",
        "purchase",
        "event_type",
        n_tiles=5,
    ),
    description="RFM segmentation: per user, recency/frequency/monetary "
    "each tiled into 5 equal-population scores via DISTRIBUTED global "
    "ranking (quantile bucketing + offset arithmetic, never a single-"
    "partition window) and combined as rfm_code = 100r+10f+m; the oracle "
    "replays the identical 1 + 5*(rank-1) div n arithmetic",
)
def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value", "event_type"
    )
    return rfm_scores(
        ev, "user_id", "ts", "value", "purchase", "event_type", n_tiles=5
    )


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    sessionize_capped,
    sessionize_capped_sql,
)


@register(
    "q_sessionize_capped",
    oracle=sessionize_capped_sql(
        "SELECT user_id, ts, event_id FROM events",
        gap_secs=1800,
        max_secs=14400,
    ),
    description="dual-condition sessionization (inactivity gap OR max "
    "session duration — the GA semantics plain gap-cumsum cannot express "
    "because splits depend on previous splits): per-entity sequential "
    "walk as an applyInPandas island, checked against a per-entity "
    "recursive-CTE oracle replaying the identical fold",
)
def q_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessionize_capped(ev, gap_secs=1800, max_secs=14400)


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    interval_iou_pairs,
    interval_iou_pairs_sql,
)

_IOU_IV_SQL = """
    SELECT user_id, event_id,
           epoch_us(ts) // 1000000 AS lo,
           epoch_us(ts) // 1000000 + 60 + (CAST(FLOOR(value) AS BIGINT) % 540)
             AS hi
    FROM events
"""


@register(
    "q_interval_iou_dedup",
    oracle=interval_iou_pairs_sql(_IOU_IV_SQL, "user_id", "event_id", 250000),
    description="clip-overlap dedup (video-curation shape): within-user "
    "interval pairs with IoU >= 0.25 — exact cross-multiplied integer test, "
    "candidates from the grid-cell rewrite (explode to time cells, "
    "equi-join on (key, cell), overlap-start cell rule for exactly-once) "
    "— never a per-key all-pairs; the naive self-join oracle certifies "
    "the grid emits the identical pair set",
)
def q_interval_iou_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = F.expr("unix_micros(ts) div 1000000")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("lo"),
        (s + 60 + F.pmod(F.floor("value").cast("bigint"), F.lit(540))).alias("hi"),
    )
    return interval_iou_pairs(
        iv, "user_id", "event_id", "lo", "hi",
        iou_ppm_threshold=250000, bucket_width=1024,
    )


from cosmos_xenna_spark.operators.kmv import kmv_set_ops, kmv_set_ops_sql  # noqa: E402


@register(
    "q_kmv_set_ops",
    oracle=kmv_set_ops_sql(
        "SELECT event_type, user_id FROM events", "event_type", "user_id", k=64
    ),
    description="KMV (theta) sketch set operations: per event-type pair, "
    "union AND intersection cardinality estimates from k=64 minimum md5 "
    "hashes — the set-op capability HLL (union-only) and the MinHash "
    "Jaccard sketch lack; fixed IEEE estimator over exact integers, "
    "exact-regime fallback when the merged sketch is the union; one "
    "corpus agg + G-row broadcast pair spine (audience-overlap contract)",
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_set_ops(ev, "event_type", "user_id", k=64)


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    churn_hazard,
    churn_hazard_sql,
)


@register(
    "q_churn_hazard",
    # gap=1 day: the synthetic corpus is dense (every user active most
    # days over a 29-day span), so only the tightest inactivity gap
    # exercises both the churned and censored branches at every sf
    oracle=churn_hazard_sql("SELECT user_id, ts FROM events", churn_gap_days=1),
    description="survival-analysis hazard table (Kaplan-Meier input) over "
    "user tenure weeks: per week, users at risk, churned-at-that-tenure "
    "count, exact discrete hazard ppm — right-censored actives stay in "
    "the risk set (dropping them is the classic survival bias); one "
    "entity aggregation + single-row corpus-end broadcast + reverse "
    "cumsum over the bounded week frame",
)
def q_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return churn_hazard(ev, churn_gap_days=1)


from cosmos_xenna_spark.operators.eventops import (  # noqa: E402
    arrival_disorder_audit,
    arrival_disorder_audit_sql,
)


# The synthetic corpus assigns event_id in timestamp order (zero
# natural disorder), so the registry query PLANTS a deterministic
# arrival permutation — arrival_seq = md5(event_id) — the planted-typo
# fixture precedent: the audit must then measure the disorder that
# permutation provably creates, identically in both engines.
_DISORDER_SQL = (
    "SELECT event_type, user_id, ts, "
    "CAST(CONCAT('0x', substr(md5(CAST(event_id AS STRING)), 1, 15)) AS BIGINT)"
    " AS arrival_seq FROM events"
)


@register(
    "q_arrival_disorder",
    oracle=arrival_disorder_audit_sql(_DISORDER_SQL, seq_col="arrival_seq"),
    description="watermark-sizing audit: per event type, the late-arrival "
    "rate and maximum lateness vs the per-entity running max event time in "
    "arrival order (planted deterministic permutation — the corpus has no "
    "natural disorder) — the exact statistic that picks a streaming "
    "watermark delay; one keyed window + one aggregation, exact integers",
)
def q_arrival_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cosmos_xenna_spark.functions import md5_long63

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "ts",
        md5_long63(F.col("event_id").cast("string")).alias("arrival_seq"),
    )
    return arrival_disorder_audit(ev, seq_col="arrival_seq")


from cosmos_xenna_spark.functions import md5_long63, md5_long63_sql  # noqa: E402
from cosmos_xenna_spark.operators.stats import (  # noqa: E402
    ab_test_two_proportion,
    ab_test_two_proportion_sql,
    cuped_moments,
    cuped_moments_sql,
)

# conversion = the user's FIRST event (by event_id) is a purchase —
# a ~20% rate that stays mid-range at every sf (a "user ever
# purchased" gate saturates to 100% as events-per-user grows, which
# degenerates the pooled variance to zero)
_AB_UNITS_SQL = f"""
    SELECT {md5_long63_sql("CAST(user_id AS STRING)", prefix="ab|")} % 2
             AS variant,
           CASE WHEN MIN_BY(event_type, event_id) = 'purchase'
                THEN 1 ELSE 0 END AS converted
    FROM events GROUP BY user_id
"""


@register(
    "q_ab_test_zscore",
    oracle=ab_test_two_proportion_sql(_AB_UNITS_SQL),
    description="two-proportion A/B test readout: users hash-assigned "
    "to variants (md5 bit — the deterministic bucketing every "
    "experimentation platform uses), conversion = any purchase event; "
    "per-variant exact counts/ppm rates, lift, and the pooled z-score "
    "as a fixed IEEE double-op sequence over exact integers (the "
    "chi-squared precedent), significance gated at the exact double "
    "for two-sided 95%. One user-grain agg + one single-row finish",
)
def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.when(F.min_by("event_type", "event_id") == "purchase", 1)
        .otherwise(0)
        .alias("converted")
    )
    units = units.select(
        (md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2).alias(
            "variant"
        ),
        "converted",
    )
    return ab_test_two_proportion(units)


_CUPED_CUT = "TIMESTAMP '2024-01-16 00:00:00'"
_CUPED_UNITS_SQL = f"""
    SELECT user_id,
           SUM(CASE WHEN ts < {_CUPED_CUT} THEN 1 ELSE 0 END) AS pre_cnt,
           SUM(CASE WHEN ts >= {_CUPED_CUT} THEN 1 ELSE 0 END) AS post_cnt
    FROM events GROUP BY user_id
"""


@register(
    "q_cuped_variance_reduction",
    oracle=cuped_moments_sql(_CUPED_UNITS_SQL, "pre_cnt", "post_cnt"),
    description="CUPED variance-reduction accounting (Deng et al. WSDM "
    "2013): per-user pre-period activity (before Jan 16) as the "
    "covariate for the in-period metric; exact integer centered "
    "moments n*Sxy - Sx*Sy in DECIMAL(38), theta in exact micro-units "
    "and the variance reduction corr^2 in exact ppm — the sample-size "
    "shrinkage readout, no float anywhere. One user-grain agg + one "
    "single-row finish",
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    units = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("pre_cnt"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0))
        .cast("bigint")
        .alias("post_cnt"),
    )
    return cuped_moments(units, "pre_cnt", "post_cnt")


from cosmos_xenna_spark.operators.stats import (  # noqa: E402
    did_estimator,
    did_estimator_sql,
)

_DID_UNITS_SQL = f"""
    SELECT {md5_long63_sql("CAST(user_id AS STRING)", prefix="did|")} % 2
             AS variant,
           SUM(CASE WHEN ts < {_CUPED_CUT} THEN 1 ELSE 0 END) AS pre_metric,
           SUM(CASE WHEN ts >= {_CUPED_CUT} THEN 1 ELSE 0 END) AS post_metric
    FROM events GROUP BY user_id
"""


@register(
    "q_did_estimator",
    oracle=did_estimator_sql(_DID_UNITS_SQL),
    description="difference-in-differences point estimate: md5-bit "
    "treatment assignment, per-user activity before/after the Jan 16 "
    "intervention; DiD as ONE exact rational over the common "
    "denominator n_t*n_c floored to micro-units (a single truncation, "
    "not four mean floors, no floats) — the quasi-experimental launch "
    "readout when randomization isn't available. One user-grain agg + "
    "single-row finish",
)
def q_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    units = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("pre_metric"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0))
        .cast("bigint")
        .alias("post_metric"),
    )
    units = units.select(
        (md5_long63(F.col("user_id").cast("string"), prefix="did|") % 2).alias(
            "variant"
        ),
        "pre_metric",
        "post_metric",
    )
    return did_estimator(units)


from cosmos_xenna_spark.operators.stats import (  # noqa: E402
    ratio_metric_delta,
    ratio_metric_delta_sql,
)

_RATIO_UNITS_SQL = """
    SELECT user_id,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS n_purchases,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
"""


@register(
    "q_ratio_metric_delta",
    oracle=ratio_metric_delta_sql(_RATIO_UNITS_SQL, "n_purchases", "n_events"),
    description="delta-method SE + 95% CI for a ratio-of-sums metric "
    "(purchases per event, user-randomized): the experimentation-"
    "platform correction for ratio metrics where the naive binomial "
    "variance is wrong; six exact integer moments in one agg, fixed "
    "IEEE double finish shared as SQL text, wide-int->double through "
    "STRING round-trips (the dsum convention), NULL-loud degenerate "
    "cases",
)
def q_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return ratio_metric_delta(units, "n_purchases", "n_events")


from cosmos_xenna_spark.operators.quality import (  # noqa: E402
    qini_table,
    qini_table_sql,
)

_UPLIFT_UNITS_SQL = f"""
    SELECT user_id AS unit_id,
           {md5_long63_sql("CAST(user_id AS STRING)", prefix="uplift|")} % 2
             AS variant,
           CASE WHEN MIN_BY(event_type, event_id) = 'purchase'
                THEN 1 ELSE 0 END AS converted,
           SUM(CASE WHEN ts < {_CUPED_CUT} THEN 1 ELSE 0 END) AS score
    FROM events GROUP BY user_id
"""


@register(
    "q_qini_uplift",
    oracle=qini_table_sql(
        _UPLIFT_UNITS_SQL,
        "(SELECT COUNT(DISTINCT user_id) FROM events)",
        n_tiles=10,
    ),
    description="Qini/uplift decile table: users ranked by a targeting "
    "score (pre-period activity) via the distributed global row number, "
    "equal-population tiles; per tile treatment/control sizes and "
    "conversions + the cumulative Qini value in exact milli-incremental-"
    "conversions — the uplift-evaluation readout gains_table cannot give "
    "(no control arm there); cumulative pass on the 10-row tile frame",
)
def q_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    units = ev.groupBy(F.col("user_id").alias("unit_id")).agg(
        F.when(F.min_by("event_type", "event_id") == "purchase", 1)
        .otherwise(0)
        .alias("converted"),
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("score"),
    )
    units = units.withColumn(
        "variant",
        md5_long63(F.col("unit_id").cast("string"), prefix="uplift|") % 2,
    )
    n_total = units.count()
    return qini_table(units, n_total=n_total, n_tiles=10)


_AB_SEG_UNITS_SQL = f"""
    SELECT c_mktsegment AS segment,
           {md5_long63_sql("CAST(user_id AS STRING)", prefix="ab|")} % 2
             AS variant,
           CASE WHEN MIN_BY(event_type, event_id) = 'purchase'
                THEN 1 ELSE 0 END AS converted
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY user_id, c_mktsegment
"""


@register(
    "q_ab_test_by_segment",
    oracle=ab_test_two_proportion_sql(
        _AB_SEG_UNITS_SQL, group_cols=["segment"]
    ),
    description="heterogeneous treatment effects: the two-proportion "
    "A/B readout PER MARKET SEGMENT (broadcast dimension join to the "
    "unit grain, then one keyed agg) — per-segment exact counts/ppm "
    "rates and the fixed-IEEE z; a segment missing a variant arm "
    "reports NULL z (every denominator NULLIF-guarded, not an ANSI "
    "crash) — small-segment arms DO go empty at low sf",
)
def q_ab_test_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    units = (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("user_id", "segment")
        .agg(
            F.when(F.min_by("event_type", "event_id") == "purchase", 1)
            .otherwise(0)
            .alias("converted")
        )
        .select(
            "segment",
            (md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2)
            .alias("variant"),
            "converted",
        )
    )
    return ab_test_two_proportion(units, group_cols=["segment"])


from cosmos_xenna_spark.operators.kmv import kmv_anotb, kmv_anotb_sql  # noqa: E402


@register(
    "q_kmv_anotb",
    oracle=kmv_anotb_sql(
        "SELECT event_type, user_id FROM events", "event_type", "user_id", k=64
    ),
    description="KMV (theta) set-DIFFERENCE estimates per event-type "
    "pair: |A\\B| and |B\\A| from the k=64 minimum md5 hashes — the "
    "third theta operation completing the union/intersection pair in "
    "q_kmv_set_ops ('users segment A has that B doesn't' without "
    "re-reading the raw sets); only hashes under the merged threshold "
    "vote, exact (theta=1) when the merged sketch IS the union; shared "
    "pair-base builder, equi-joins on k-sized frames after",
)
def q_kmv_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_anotb(ev, "event_type", "user_id", k=64)


from cosmos_xenna_spark.operators.stats import (  # noqa: E402
    ab_mann_whitney,
    ab_mann_whitney_sql,
)

_MW_UNITS_SQL = f"""
    SELECT {md5_long63_sql("CAST(user_id AS STRING)", prefix="ab|")} % 2
             AS variant,
           COUNT(*) AS metric
    FROM events GROUP BY user_id
"""


@register(
    "q_ab_mann_whitney",
    oracle=ab_mann_whitney_sql(_MW_UNITS_SQL),
    description="Mann-Whitney rank-sum A/B test on per-user activity — "
    "the nonparametric readout for skewed metrics where t-test "
    "normality breaks: integer-exact 2U via the roc_auc midrank "
    "machinery (bounded value frame + distributed quantile-bucketed "
    "cumsum, ties doubled to stay integral), tie-corrected normal z as "
    "a shared fixed IEEE double finish, common-language effect size "
    "P(b>a) in exact ppm",
)
def q_ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("metric")
    )
    units = units.select(
        (md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2).alias(
            "variant"
        ),
        "metric",
    )
    return ab_mann_whitney(units)


from cosmos_xenna_spark.operators.stats import (  # noqa: E402
    power_mde_table,
    power_mde_table_sql,
    sequential_ab_looks,
    sequential_ab_looks_sql,
)

# Unit grain for the sequential monitor: one row per user with the
# user's FIRST event timestamp as the arrival time (epoch micros —
# when the unit ENTERED the experiment), the md5-bit variant, and the
# scale-stable first-event-is-purchase conversion.
_SEQ_UNITS_SQL = f"""
    SELECT {md5_long63_sql("CAST(user_id AS STRING)", prefix="ab|")} % 2
             AS variant,
           CASE WHEN MIN_BY(event_type, event_id) = 'purchase'
                THEN 1 ELSE 0 END AS converted,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS ts_us
    FROM events GROUP BY user_id
"""


@register(
    "q_ab_sequential_looks",
    oracle=sequential_ab_looks_sql(
        _SEQ_UNITS_SQL,
        f"SELECT MIN(ts_us) FROM ({_SEQ_UNITS_SQL})",
        f"SELECT MAX(ts_us) FROM ({_SEQ_UNITS_SQL})",
        k_looks=8,
    ),
    description="group-sequential A/B guardrail: the experiment span "
    "split into 8 calendar looks, cumulative per-variant counters per "
    "look, the pooled z over them, and the O'Brien-Fleming-shaped "
    "alpha-spending boundary z_.025*sqrt(K/k) with crossing + "
    "cumulative early-stop flags — the machinery that makes peeking "
    "legal; look assignment is row-local integer arithmetic (no "
    "global sort), span bounds are driver literals (scalar subqueries "
    "in the oracle), all windows on the 8-row look table",
)
def q_ab_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Feeds the bounds job AND the main plan: checkpoint eagerly or
    # the user-grain agg executes once per consumer (the roc_auc /
    # DSIR totals-branch lesson).
    units = checkpoint(
        ev.groupBy("user_id")
        .agg(
            F.when(F.min_by("event_type", "event_id") == "purchase", 1)
            .otherwise(0)
            .alias("converted"),
            F.min(F.expr("unix_micros(ts)")).cast("bigint").alias("ts_us"),
        )
        .select(
            (md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2)
            .alias("variant"),
            "converted",
            "ts_us",
        )
    )
    lo, hi = units.agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    ).collect()[0]
    return sequential_ab_looks(units, int(lo), int(hi), k_looks=8)


_MDE_UNITS_SQL = """
    SELECT s.segment,
           CASE WHEN u.first_type = 'purchase' THEN 1 ELSE 0 END AS converted
    FROM (SELECT user_id, MIN_BY(event_type, event_id) AS first_type
          FROM events GROUP BY user_id) u
    JOIN (SELECT c_custkey, c_mktsegment AS segment FROM customer) s
      ON u.user_id = s.c_custkey
"""


@register(
    "q_power_mde",
    oracle=power_mde_table_sql(
        _MDE_UNITS_SQL, group_cols=["segment"], rel_lift_ppm=50_000
    ),
    description="experiment planning table per market segment: from "
    "the observed unit count and baseline conversion rate, the minimum "
    "detectable absolute/relative effect of a 50/50 two-proportion "
    "test at alpha .05 / power .80, and the required per-arm n to "
    "detect a 5% relative lift — one keyed agg to (n, conv) integers, "
    "fixed IEEE double finish shared as SQL text, NULLIF-guarded "
    "degenerate segments",
)
def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    units = (
        ev.groupBy("user_id")
        .agg(
            F.when(F.min_by("event_type", "event_id") == "purchase", 1)
            .otherwise(0)
            .alias("converted")
        )
        .join(F.broadcast(cust), F.col("user_id") == cust.c_custkey)
        .select("segment", "converted")
    )
    return power_mde_table(units, group_cols=["segment"], rel_lift_ppm=50_000)

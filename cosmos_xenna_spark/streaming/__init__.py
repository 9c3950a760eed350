"""Structured Streaming surface: reference STREAMING/SERVING mode parity.

Reference parity map (citations into /root/reference):

- STREAMING execution mode — all stages concurrent with backpressure
  (``cosmos_xenna/pipelines/private/specs.py:49-67``, executor
  ``streaming.py:871-944``, backpressure ``streaming.py:1033-1062``):
  Structured Streaming micro-batches run the same stage chain; rate
  control is ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` instead of
  a hand-rolled in-flight cap.
- SERVING mode — source/sink ``multiprocessing.Queue`` pair polled
  each tick (``specs.py:511-518``, ``streaming.py:992-1004``,
  sink push ``:1015-1031``): a streaming source feeding
  ``foreachBatch`` (the sink callback is the queue push; ``None``
  termination becomes ``query.stop()``).
- Continuous stages (A9, ``ray_utils/continuous_stage.py:68-79``):
  the ``mapInPandas`` stage UDF already receives an iterator of
  batches — the same Stage chain runs unchanged on a streaming
  DataFrame; for explicit keyed state use
  ``stateful_count`` (``applyInPandasWithState``).
- The reference's autoscaler/backpressure/monitoring driver loop
  (``streaming.py:947-1122``) is NOT ported: Spark's micro-batch
  engine + StreamingQueryListener own those jobs.

Event-time semantics (watermarks, tumbling/sliding/session windows)
are the batch-checked shapes in ``queries/events.py`` — DuckDB has no
streaming, so correctness is established there and these helpers are
exercised by streaming tests over a file-replayed events table.
"""

from __future__ import annotations

import os
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cosmos_xenna_spark.catalog import normalize_ts
from cosmos_xenna_spark.operators.pipeline import PipelineSpec, run_pipeline

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def events_file_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
    schema=None,
) -> DataFrame:
    """Replay an events directory as a file stream (the test/bench
    harness for every streaming operator; TESTDATA events replayed).

    ``readStream`` needs an explicit schema, so we probe the directory
    once with a static read (footer-only, no data scan) and reuse the
    physical schema as-is; the same dtype-dispatching normalizer as
    ``catalog.load_table`` then maps any of the three historical ``ts``
    encodings (ns-as-bigint / timestamp_ntz / timestamp) to session-UTC
    ``timestamp`` — the streaming and batch paths share one contract.

    A directory that is EMPTY at stream start (the common pattern of
    launching the query before files arrive) can't be probed; pass
    ``schema`` explicitly, or the known events DDL is assumed.
    """
    physical = schema
    if physical is None:
        try:
            physical = spark.read.parquet(events_dir).schema
        except Exception:
            physical = EVENTS_DDL
    reader = spark.readStream.schema(physical)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_ts(reader.parquet(events_dir))


def run_stages_streaming(stream_df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Reference STREAMING mode: the batch stage chain over a streaming
    DataFrame. Adjacent stages with the same resource shape run as one
    ``mapInPandas``, so a micro-batch crosses the JVM/Python boundary
    once per shape group, as in batch mode."""
    return run_pipeline(stream_df, spec)


def tumbling_counts(stream_df: DataFrame, window: str = "5 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling event-time aggregation (late data dropped
    past the watermark — A14/backpressure-era semantics, batch-checked
    by q_tumbling_window / q_late_data_watermark)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def streaming_dedup(stream_df: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming dropDuplicates with watermark-bounded state."""
    return stream_df.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def stateful_count(stream_df: DataFrame) -> DataFrame:
    """Continuous-stage parity (A9): keyed state across micro-batches
    via applyInPandasWithState — running per-user event count."""

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def serve(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    query_name: str = "cxs_serving",
):
    """SERVING mode: push each micro-batch to a user sink callback
    (reference sink-queue push, ``streaming.py:1015-1031``). Returns the
    StreamingQuery; caller stops it (reference ``None`` sentinel)."""
    return (
        stream_df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .queryName(query_name)
        .start()
    )


def idempotent_sink(
    sink: Callable[[DataFrame, int], None], ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` callback for exactly-once external writes.

    Structured Streaming guarantees at-least-once for ``foreachBatch``:
    after a failure the restarted query REPLAYS the last uncommitted
    batch id, so a non-transactional sink (REST call, plain file copy,
    queue push) double-writes. The standard fix is a (batchId ->
    committed) ledger keyed by batch id: skip ids already marked,
    mark AFTER the sink returns. The marker write is a tiny atomic
    rename in ``ledger_dir`` (driver-side; ``foreachBatch`` callbacks
    run on the driver) — point it at durable storage in production so
    the ledger survives driver restarts alongside the checkpoint.
    """
    os.makedirs(ledger_dir, exist_ok=True)

    def wrapped(df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):
            return  # replayed batch: already committed downstream
        sink(df, batch_id)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.replace(tmp, marker)

    return wrapped


def to_memory_sink(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Debug/test sink: named in-memory table."""
    return (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
    max_lag: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join (SURVEY.md §2.B streaming).

    Both sides are watermarked and the join condition carries an
    event-time bound (right.ts in [left.ts, left.ts + max_lag]) so the
    state store can evict rows once the watermark passes — unbounded
    state is the stream-stream join failure mode at scale.
    """
    l = left.withWatermark("ts", left_watermark).select(
        F.col(key).alias("k"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    r = right.withWatermark("ts", right_watermark).select(
        F.col(key).alias("rk"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    return l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_lag}")),
    ).select("k", "l_id", "r_id", "l_ts", "r_ts")


def session_counts(
    stream_df: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked session windows: per-user sessions closed after
    ``gap`` of inactivity (the streaming form of q_sessionization's
    batch lag/cumsum shape). State for a session is dropped once the
    watermark passes its end — bounded state at any scale."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_time_window_dedup(
    stream_df: DataFrame,
    width: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming form of ``operators.eventops.dedup_time_window``: one
    surviving event per (user, type, tumbling bucket).

    ``dropDuplicates`` on the (key, window) tuple keeps the FIRST
    ARRIVAL per group (arrival order, not event-time order — the batch
    operator keeps min(ts, id); the surviving KEY SETS are identical,
    which is what the parity test pins).  The watermark bounds the
    dedup state: groups older than the watermark are evicted, so state
    is O(active windows), not O(stream history).
    """
    return (
        stream_df.withWatermark("ts", watermark)
        .withColumn("__w", F.window("ts", width))
        .dropDuplicates(["user_id", "event_type", "__w"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("__w.start").alias("bucket_start"),
        )
    )


def streaming_fuzzy_dedup_probe(
    stream_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Ingest-time fuzzy dedup as a STREAM: each arriving document is
    LSH-probed against a static corpus and emitted as
    ``(doc_id, dup_of, jaccard)`` when a verified near-duplicate exists
    — the streaming form of ``operators.dedup.incremental_fuzzy_dedup``
    (same hashes, same banding, same exact word-set verification).

    Streaming constraints shape the plan: stream-side signatures use the
    ZERO-aggregation row-local banding (``minhash_bands_rowlocal`` — a
    per-doc groupBy on a stream would need a watermark and delay
    emission), the corpus side is a static bucket+wordset table built by
    the batch ``lsh_band_buckets`` (identical buckets; precompute and
    persist it in production), and the verify is the
    row-local ``array_intersect`` form — so the whole probe is
    stateless stream-static joins, no streaming aggregation at all
    except the final per-pair ``dropDuplicates`` (a pair colliding in
    several bands would emit once per band) — its state grows with
    emitted PAIRS only (the duplicate sliver, not the stream); add a
    watermark upstream to bound it for unbounded runs.
    """
    from cosmos_xenna_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_bands_rowlocal,
    )

    stream_bands = minhash_bands_rowlocal(
        stream_docs, text_col, n_hashes, band_size, k
    )
    corpus_bands = lsh_band_buckets(corpus, text_col, n_hashes, band_size, k)
    corpus_side = corpus_bands.withColumnRenamed("doc_id", "dup_of").join(
        corpus.select(
            F.col("doc_id").alias("dup_of"),
            F.array_distinct(F.split(text_col, " ")).alias("ws_b"),
        ),
        "dup_of",
    )
    stream_side = stream_bands.join(
        stream_docs.select(
            "doc_id", F.array_distinct(F.split(text_col, " ")).alias("ws_a")
        ),
        "doc_id",
    )
    cand = stream_side.join(corpus_side, ["band", "bucket"]).filter(
        F.col("doc_id") != F.col("dup_of")
    )
    verified = (
        cand.select(
            "doc_id",
            "dup_of",
            F.size(F.array_intersect("ws_a", "ws_b")).cast("bigint").alias("n_inter"),
            (F.size("ws_a") + F.size("ws_b")).cast("bigint").alias("n_ab"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / (F.col("n_ab") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "dup_of", "jaccard")
        .dropDuplicates(["doc_id", "dup_of"])
    )
    return verified


def streaming_ohlc_bars(
    stream_df: DataFrame,
    bucket: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Live OHLC bars: the streaming form of
    ``operators.eventops.ohlc_bars`` — per (user, tumbling bucket)
    open/high/low/close over a watermarked window aggregation.

    Open/close use the same deterministic ``min_by``/``max_by`` on the
    zero-padded (epoch, id) key as the batch operator, so a closed
    bar is BIT-IDENTICAL to the batch computation over the same rows
    (asserted by the parity test).  State per (user, bucket) is one
    bar; the watermark bounds how many buckets stay open.
    """
    key = "printf('%020d|%020d', unix_micros(ts), event_id)"
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", bucket).alias("w"), "user_id")
        .agg(
            F.expr(f"min_by(value, {key})").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr(f"max_by(value, {key})").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("user_id").alias("entity"),
            F.col("w.start").alias("bucket_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def streaming_last_touch_attribution(
    stream_df: DataFrame,
    conversion_type: str = "purchase",
    source_types: tuple[str, ...] = ("click", "view"),
    window_secs: int = 1800,
) -> DataFrame:
    """Custom stateful operator (A9/A3 streaming parity): last-touch
    attribution as a live stream via ``applyInPandasWithState``.

    Per-user state is ONE tuple — the latest source event's (id, type,
    epoch) — regardless of stream length; each micro-batch's rows are
    processed in event-time order within the batch, conversions emit
    immediately with their attribution (or NULLs when the lookback
    window is empty).  For a time-ordered stream the emitted rows are
    BIT-IDENTICAL to the batch ``eventops.last_touch_attribution``
    (the parity test pins full-row equality); out-of-order arrival
    across micro-batches degrades to arrival-order semantics — the
    same contract as streaming_time_window_dedup.
    """
    srcs = set(source_types)

    def update(key, pdfs, state: GroupState):
        sid, stype, sts = state.get if state.exists else (-1, "", -1)
        frames = [pdf for pdf in pdfs if len(pdf)]
        out = {
            "conversion_id": [],
            "entity": [],
            "src_event_id": [],
            "src_type": [],
            "delay_us": [],
        }
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            # force microsecond epoch regardless of the Arrow-side
            # pandas dtype (datetime64[ns] vs [us])
            batch["__us"] = batch["ts"].astype("datetime64[us]").astype("int64")
            batch = batch.sort_values(["__us", "event_id"])
            for eid, etype, us in zip(
                batch["event_id"], batch["event_type"], batch["__us"]
            ):
                if etype == conversion_type:
                    hit = sts >= 0 and us - sts <= window_secs * 1_000_000
                    out["conversion_id"].append(int(eid))
                    out["entity"].append(int(key[0]))
                    out["src_event_id"].append(int(sid) if hit else None)
                    out["src_type"].append(stype if hit else None)
                    out["delay_us"].append(int(us - sts) if hit else None)
                elif etype in srcs:
                    sid, stype, sts = int(eid), str(etype), int(us)
        state.update((sid, stype, sts))
        yield pd.DataFrame(out)

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "conversion_id long, entity long, src_event_id long, "
            "src_type string, delay_us long"
        ),
        stateStructType="src_id long, src_type string, src_ts long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_abandoned_carts(
    stream_df: DataFrame,
    timeout_secs: int = 1800,
    source_types: tuple[str, ...] = ("click", "view"),
    conversion_type: str = "purchase",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Timeout detection with event-time TIMEOUTS: emit one row per
    user whose last click/view was never followed by a purchase within
    ``timeout_secs`` — the abandoned-cart shape session windows cannot
    express (the signal is the ABSENCE of an event, so state must fire
    when the watermark passes the deadline).

    ``applyInPandasWithState`` + ``EventTimeTimeout``: state per user
    is one (source id, source ts) tuple; each source event re-arms the
    timeout timestamp, a conversion clears state, and the timed-out
    invocation (empty row iterator, ``state.hasTimedOut``) emits the
    abandonment exactly once.  State is dropped on emission and on
    conversion — bounded by the number of users with an open cart.
    """
    srcs = set(source_types)
    timeout_ms = timeout_secs * 1000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            sid, sts = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "src_event_id": [int(sid)],
                    "armed_ts_ms": [int(sts)],
                }
            )
            return
        sid, sts = state.get if state.exists else (None, None)
        events = []
        for pdf in pdfs:
            ms = pdf["ts"].astype("datetime64[ms]").astype("int64")
            events.extend(zip(ms, pdf["event_id"], pdf["event_type"]))
        for ts_ms, eid, etype in sorted(events):
            if etype in srcs:
                sid, sts = int(eid), int(ts_ms)
            elif etype == conversion_type:
                sid, sts = None, None
        if sid is None:
            if state.exists:
                state.remove()
        else:
            state.update((sid, sts))
            state.setTimeoutTimestamp(sts + timeout_ms)
        return
        yield  # make the function a generator on every path

    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, src_event_id long, armed_ts_ms long",
            stateStructType="src_id long, src_ts long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_substring_dedup(
    stream_docs: DataFrame,
    state,  # IncrementalSubstringDedup
    sink,
    checkpoint_dir: str | None = None,
):
    """Ingest-time repeated-substring dedup: the streaming form of
    ``operators.substring.substring_dedup_report`` (VERDICT r6 #5).

    Each micro-batch's documents are scored against the cumulative
    gram index held by ``state``
    (:class:`~cosmos_xenna_spark.operators.substring.IncrementalSubstringDedup`)
    under first-ARRIVAL-survives semantics, and the per-doc report is
    handed to ``sink(report_df, batch_id)`` — compose with
    :func:`idempotent_sink` for exactly-once delivery.  Per-batch work
    is the batch operator's plan over (batch grams x index); replaying
    a corpus in arrival order reproduces the batch report bit-exactly
    (parity test in ``tests/test_streaming.py``).

    foreachBatch (not a stateless stream-static join) because the
    index MUTATES as batches arrive — the corpus the next batch dedups
    against includes this batch.  That is precisely the semantics the
    reference's serving mode (A2) needs for continuous ingest.
    """

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        report = state.process_batch(batch_df)
        sink(report, batch_id)

    writer = stream_docs.writeStream.outputMode("append").foreachBatch(fb)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def streaming_golden_record(
    stream_df: DataFrame,
    cluster_col: str = "cluster_id",
    best_by: dict[str, str] | None = None,
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Live survivorship merge: the streaming form of
    ``operators.dedup.golden_record`` (VERDICT r6 #5).

    State per cluster is ONE golden record — member count, the current
    winning (key, value) per ``best_by`` field, and the running sums —
    so state size is bounded by the number of clusters, never by
    member history.  Each micro-batch emits the UPDATED golden row for
    every cluster it touched (update semantics; ``n_members`` is
    strictly increasing, so the row with the max ``n_members`` per
    cluster is always the current record).  Because the batch
    operator's per-field rule is a total-order ``max_by`` over the
    zero-padded ``(order, value)`` key, fold order cannot matter: the
    final streamed record is BIT-IDENTICAL to the batch
    ``golden_record`` over the same members regardless of how arrivals
    split into batches (parity test pins this).
    """
    best_by = dict(best_by or {"text": "n_chars"})
    sum_cols = list(sum_cols or [])
    types = {f.name: f.dataType.simpleString() for f in stream_df.schema.fields}

    out_fields = [f"{cluster_col} {types[cluster_col]}", "n_members long"]
    state_fields = ["n long"]
    for c in best_by:
        out_fields.append(f"{c} {types[c]}")
        state_fields += [f"k_{c} string", f"v_{c} {types[c]}"]
    for c in sum_cols:
        out_fields.append(f"sum_{c} long")
        state_fields.append(f"s_{c} long")
    best_cols = list(best_by)
    int_best = {c for c in best_cols if types[c] in ("tinyint", "smallint", "int", "bigint")}

    def update(key, pdfs, state: GroupState):
        if state.exists:
            st = list(state.get)
        else:
            st = [0] + [None, None] * len(best_cols) + [0] * len(sum_cols)
        n = int(st[0])
        best = {}
        for i, c in enumerate(best_cols):
            best[c] = (st[1 + 2 * i], st[2 + 2 * i])
        sums = {c: int(st[1 + 2 * len(best_cols) + j]) for j, c in enumerate(sum_cols)}

        touched = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            touched = True
            n += len(pdf)
            for c in best_cols:
                order = best_by[c]
                for val, o in zip(pdf[c], pdf[order]):
                    # the batch operator's composite max_by key
                    k = "%020d|%s" % (int(o), str(val))
                    if best[c][0] is None or k > best[c][0]:
                        best[c] = (k, val)
            for c in sum_cols:
                sums[c] += int(pdf[c].sum())

        new_state = [n]
        for c in best_cols:
            new_state += [best[c][0], best[c][1]]
        new_state += [sums[c] for c in sum_cols]
        state.update(tuple(new_state))

        if touched:
            row = {cluster_col: [key[0]], "n_members": [n]}
            for c in best_cols:
                v = best[c][1]
                row[c] = [int(v) if (c in int_best and v is not None) else v]
            for c in sum_cols:
                row[f"sum_{c}"] = [sums[c]]
            yield pd.DataFrame(row)

    return stream_df.groupBy(cluster_col).applyInPandasWithState(
        update,
        outputStructType=", ".join(out_fields),
        stateStructType=", ".join(state_fields),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_cusum(
    stream_df: DataFrame,
    drift_cents: int,
    threshold_cents: int,
) -> DataFrame:
    """Live CUSUM change detection: the streaming form of
    ``operators.timeseries.cusum_changepoint`` via
    ``applyInPandasWithState``.

    Per-user state is TWO integers — the running cumulative sum of
    (cents - k) and its running minimum — regardless of stream length;
    each row emits its Page statistic ``S_t = cum_t - min(0,
    running_min)`` and alarm flag immediately.  For a time-ordered
    replay the emitted rows are BIT-IDENTICAL to the batch closed-form
    operator (parity test); out-of-order arrival across micro-batches
    degrades to arrival-order semantics (the streaming_time_window_
    dedup contract).  This is the monitoring loop the batch operator's
    closed form cannot give you live: O(1) state, per-event output.
    """
    import math

    def update(key, pdfs, state: GroupState):
        cum, runmin = state.get if state.exists else (0, 0)
        out = {"event_id": [], "entity": [], "cusum": [], "alarm": []}
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            batch["__us"] = batch["ts"].astype("datetime64[us]").astype("int64")
            batch = batch.sort_values(["__us", "event_id"])
            for eid, v in zip(batch["event_id"], batch["value"]):
                c = math.floor(v * 100) - drift_cents
                cum += c
                runmin = min(runmin, cum)
                s = cum - min(0, runmin)
                out["event_id"].append(int(eid))
                out["entity"].append(int(key[0]))
                out["cusum"].append(int(s))
                out["alarm"].append(1 if s >= threshold_cents else 0)
        state.update((int(cum), int(runmin)))
        yield pd.DataFrame(out)

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="event_id long, entity long, cusum long, alarm long",
        stateStructType="cum long, runmin long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_rolling_distinct(
    stream_df: DataFrame,
    window_rows: int = 5,
) -> DataFrame:
    """Live rolling distinct count: the streaming form of
    ``operators.eventops.rolling_distinct_count`` — per event, the
    number of DISTINCT event types among the user's last
    ``window_rows`` events including it.

    Per-user state is the last ``window_rows`` event types as one
    '\\x1f'-joined string (bounded by the window, independent of
    stream length).  Time-ordered replays emit rows bit-identical to
    the batch keyed-window operator (parity test); cross-micro-batch
    out-of-order arrival degrades to arrival order — the standing
    streaming contract.
    """
    SEP = "\x1f"

    def update(key, pdfs, state: GroupState):
        (joined,) = state.get if state.exists else ("",)
        recent = joined.split(SEP) if joined else []
        out = {"event_id": [], "entity": [], "n_distinct": []}
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            batch["__us"] = batch["ts"].astype("datetime64[us]").astype("int64")
            batch = batch.sort_values(["__us", "event_id"])
            for eid, etype in zip(batch["event_id"], batch["event_type"]):
                recent.append(str(etype))
                if len(recent) > window_rows:
                    recent = recent[-window_rows:]
                out["event_id"].append(int(eid))
                out["entity"].append(int(key[0]))
                out["n_distinct"].append(len(set(recent)))
        state.update((SEP.join(recent),))
        yield pd.DataFrame(out)

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="event_id long, entity long, n_distinct long",
        stateStructType="recent string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_rolling_median(
    stream_df: DataFrame,
    window_rows: int = 5,
) -> DataFrame:
    """Live exact rolling median: the streaming form of
    ``operators.timeseries.rolling_median`` — per event, the median of
    the user's last ``window_rows`` values (cent-quantized) including
    it.

    Per-user state is the last ``window_rows`` cent values as one
    comma-joined string — bounded by the window, independent of stream
    length (the streaming_rolling_distinct contract).  The middle-pick
    arithmetic mirrors the batch operator exactly (sorted frame,
    floor((n+1)/2) / floor((n+2)/2) picks, ONE final divide by 200.0),
    so time-ordered replays emit rows bit-identical to the batch keyed
    window (parity test); cross-micro-batch out-of-order arrival
    degrades to arrival order — the standing streaming contract.
    """

    def update(key, pdfs, state: GroupState):
        (joined,) = state.get if state.exists else ("",)
        recent = [int(x) for x in joined.split(",")] if joined else []
        out = {"event_id": [], "entity": [], "rolling_median": []}
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            batch["__us"] = batch["ts"].astype("datetime64[us]").astype("int64")
            batch = batch.sort_values(["__us", "event_id"])
            for eid, v in zip(batch["event_id"], batch["value"]):
                import math

                recent.append(math.floor(v * 100))
                if len(recent) > window_rows:
                    recent = recent[-window_rows:]
                s = sorted(recent)
                n = len(s)
                med = (s[(n + 1) // 2 - 1] + s[(n + 2) // 2 - 1]) / 200.0
                out["event_id"].append(int(eid))
                out["entity"].append(int(key[0]))
                out["rolling_median"].append(med)
        state.update((",".join(str(c) for c in recent),))
        yield pd.DataFrame(out)

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="event_id long, entity long, rolling_median double",
        stateStructType="recent string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dau_wau(
    stream_df: DataFrame,
    ts_col: str = "ts",
    entity_col: str = "user_id",
    window_days: int = 7,
    evict_after_days: int | None = None,
) -> DataFrame:
    """Live DAU/WAU stickiness: the streaming form of
    ``operators.eventops.dau_wau_stickiness``.

    Uses the same contribution-explode decomposition as the batch
    operator: each event contributes to the ``window_days`` calendar
    days whose trailing window contains it, so the stream is exploded
    STATELESSLY to (day, active_day, entity) rows and the stateful
    group key is the calendar day — never a calendar-global window.
    Per-day state is the exact DAU and WAU entity-id sets (joined
    strings).  Update-mode emission: every micro-batch that touches a
    day re-emits that day's current (dau, wau, stickiness_ppm); the
    LAST row per day after a full replay equals the batch operator
    row-for-row on days with dau > 0 (parity test; the batch form's
    inner join drops zero-DAU days, so callers filter dau > 0).

    State-size contract: O(distinct entities active in the trailing
    ``window_days``) per day key — exact by design, like the batch
    twin it must hash-match.  Per-day size is bounded, but day KEYS
    accumulate: with the default ``evict_after_days=None`` total state
    grows with the number of days the stream has ever touched
    (unbounded over an unbounded stream — ADVICE r8).  Pass
    ``evict_after_days=N`` for a long-running deployment: the stream
    gets an N-day watermark on ``ts_col`` and each day key an
    event-time timeout at its own day end, so a day is evicted once
    the stream's event time has moved N days past it (watermark-
    driven ``EventTimeTimeout`` — NOT processing-time, which forces
    empty timeout-check micro-batches that never let
    ``processAllAvailable`` settle).  The same watermark also DROPS
    straggler events more than N days late before they reach the
    operator (standard Spark late-data semantics), so an evicted day
    is never half-recreated — pick N >= the pipeline's late-data
    horizon.  At 100 TB / billions
    of entities, swap the set state for an HLL sketch register (the
    ``q_audience_overlap_sketch`` pattern) and accept ~2% error; the
    group key stays the day, so state never concentrates on one task.
    """
    SEP = "\x1f"
    if evict_after_days is not None:
        stream_df = stream_df.withWatermark(
            ts_col, f"{evict_after_days} days"
        )
    day = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    contrib = stream_df.select(
        day.alias("active_day"),
        F.col(entity_col).cast("long").alias("e"),
        # carry the watermarked event-time column through the project:
        # EventTimeTimeout requires the watermark attribute to survive
        # into the stateful operator's input
        F.col(ts_col).alias("__ts"),
    ).select(
        F.explode(
            F.sequence(F.col("active_day"), F.col("active_day") + (window_days - 1))
        ).alias("day"),
        "active_day",
        "e",
        "__ts",
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        dau_j, wau_j = state.get if state.exists else ("", "")
        dau_set = set(dau_j.split(SEP)) if dau_j else set()
        wau_set = set(wau_j.split(SEP)) if wau_j else set()
        for pdf in pdfs:
            for active_day, e in zip(pdf["active_day"], pdf["e"]):
                ent = str(int(e))
                wau_set.add(ent)
                if int(active_day) == int(key[0]):
                    dau_set.add(ent)
        state.update((SEP.join(sorted(dau_set)), SEP.join(sorted(wau_set))))
        if evict_after_days is not None:
            # evict once the watermark (event time minus the N-day
            # delay) passes this day's end; a late re-created key must
            # still set a FUTURE timestamp, hence the watermark floor
            day_end_ms = (int(key[0]) + 1) * 86_400_000
            state.setTimeoutTimestamp(
                max(day_end_ms, state.getCurrentWatermarkMs() + 1)
            )
        dau, wau = len(dau_set), len(wau_set)
        yield pd.DataFrame(
            {
                "day": [int(key[0])],
                "dau": [dau],
                "wau": [wau],
                "stickiness_ppm": [dau * 1_000_000 // wau if wau else 0],
            }
        )

    return contrib.groupBy("day").applyInPandasWithState(
        update,
        outputStructType="day long, dau long, wau long, stickiness_ppm long",
        stateStructType="dau_set string, wau_set string",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if evict_after_days is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )


def streaming_simpson_diversity(
    stream_df: DataFrame,
    entity_col: str = "user_id",
    category_col: str = "event_type",
) -> DataFrame:
    """Live Simpson diversity: the streaming form of
    ``operators.stats.simpson_diversity`` — per entity, the exact
    two-draw-collision ppm over its category counts so far.

    Per-entity state is the category->count map as one joined string —
    bounded by the CATEGORY vocabulary (event types, languages,
    domains-per-user), not by stream length, so state stays small for
    the diversity use cases this serves.  Update-mode emission: the
    LAST row per entity after a full replay equals the batch operator
    on entities with >= 2 events (parity test).
    """
    SEP, KV = "\x1f", "\x1e"

    def update(key, pdfs, state: GroupState):
        (joined,) = state.get if state.exists else ("",)
        counts: dict[str, int] = {}
        if joined:
            for part in joined.split(SEP):
                cat, n = part.rsplit(KV, 1)
                counts[cat] = int(n)
        for pdf in pdfs:
            for cat in pdf[category_col]:
                counts[str(cat)] = counts.get(str(cat), 0) + 1
        state.update(
            (SEP.join(f"{c}{KV}{n}" for c, n in sorted(counts.items())),)
        )
        N = sum(counts.values())
        num = sum(n * (n - 1) for n in counts.values())
        yield pd.DataFrame(
            {
                "entity": [int(key[0])],
                "n_categories": [len(counts)],
                "n_rows": [N],
                "simpson_ppm": [1_000_000 * num // (N * (N - 1)) if N >= 2 else None],
            }
        )

    return stream_df.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=(
            "entity long, n_categories long, n_rows long, simpson_ppm long"
        ),
        stateStructType="counts string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_burst_days(
    stream_df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    mult_ppt: int = 1300,
    min_base: int = 7,
    window_days: int = 7,
) -> DataFrame:
    """Live burst detection: the streaming form of
    ``operators.eventops.burst_days`` — per (event type, calendar day),
    the current count, trailing-window baseline and burst flag, emitted
    as events arrive (the incident-surfacing loop the batch closed form
    cannot give you live).

    Per-type state is the day->count map PRUNED to the trailing
    ``window_days + 1`` days behind the newest day seen — bounded by
    the window, independent of stream length.  On a time-ordered
    replay the LAST emission per (type, day) carries that day's final
    count against its final baseline, matching the batch operator
    exactly (parity test); deep out-of-order arrival beyond the pruned
    window degrades to arrival-order semantics (the standing streaming
    contract).
    """
    SEP, KV = "\x1f", "\x1e"
    day_col = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    prepared = stream_df.select(
        F.col(type_col).alias("etype"), day_col.alias("day")
    )

    def update(key, pdfs, state: GroupState):
        (joined,) = state.get if state.exists else ("",)
        counts: dict[int, int] = {}
        if joined:
            for part in joined.split(SEP):
                d, n = part.split(KV)
                counts[int(d)] = int(n)
        touched = set()
        for pdf in pdfs:
            for d in pdf["day"]:
                d = int(d)
                counts[d] = counts.get(d, 0) + 1
                touched.add(d)
        # Emit from the FULL map, then prune only the PERSISTED state:
        # a wide micro-batch (e.g. a backfill file spanning months) must
        # see its own in-batch history; the bounded-state contract needs
        # only the carry-over trimmed.
        out = {"etype": [], "day": [], "n": [], "prev_sum": [], "is_burst": []}
        for d in sorted(touched):
            n = counts[d]
            prev = sum(
                counts.get(d - j, 0) for j in range(1, window_days + 1)
            )
            out["etype"].append(str(key[0]))
            out["day"].append(d)
            out["n"].append(n)
            out["prev_sum"].append(prev)
            out["is_burst"].append(
                1
                if prev >= min_base
                and n * window_days * 1000 >= mult_ppt * prev
                else 0
            )
        if counts:
            horizon = max(counts) - (window_days + 1)
            counts = {d: n for d, n in counts.items() if d >= horizon}
        state.update(
            (SEP.join(f"{d}{KV}{n}" for d, n in sorted(counts.items())),)
        )
        yield pd.DataFrame(out)

    return prepared.groupBy("etype").applyInPandasWithState(
        update,
        outputStructType=(
            "etype string, day long, n long, prev_sum long, is_burst long"
        ),
        stateStructType="counts string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def synthetic_rate_stream(
    spark: SparkSession,
    rows_per_second: int = 1000,
    n_users: int = 100,
    n_types: int = 5,
) -> DataFrame:
    """Synthetic event stream on Spark's built-in ``rate`` source (the
    third leg of the file/queue/rate source surface, SURVEY §2.B): each
    generated row is mapped DETERMINISTICALLY from its monotonic
    ``value`` into the engine's event schema (xxhash64-derived user /
    type / value), so load tests and soak runs exercise every streaming
    operator without touching disk, and two runs over the same value
    range produce identical rows.

    The rate source is backpressure-native: it never outruns the
    trigger, making it the canonical stand-in for "what does this
    stateful operator do at N events/sec" before a real queue exists.
    """
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.pmod(F.xxhash64("value"), F.lit(n_users)).alias("user_id"),
        F.concat(
            F.lit("type"),
            F.pmod(F.xxhash64("value", F.lit(1)), F.lit(n_types)).cast("string"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("value", F.lit(2)), F.lit(10_000)) / 100.0).alias("value"),
        F.lit("{}").alias("props"),
    )


def streaming_twap(stream_df: DataFrame) -> DataFrame:
    """Live TWAP: the streaming form of
    ``operators.eventops.time_weighted_average`` — per (user, calendar
    day), the running duration-weighted mean of cent-quantized values,
    re-emitted every micro-batch that touches the key.

    State per (user, day) is ONE tuple (last_us, last_cents, num, den,
    n): each arrival closes the PREVIOUS observation's duration and
    folds ``cents * dur_us`` into the accumulator — so exactly like
    the batch operator the day's last-seen observation is pending, and
    after a time-ordered full replay the LAST row per key equals the
    batch row bit-for-bit on keys with >= 2 observations (parity
    test).  Within a micro-batch rows are sorted by (us, event_id);
    cross-batch out-of-order arrival degrades to arrival order — the
    standing streaming contract (``streaming_rolling_median``).
    ``num`` stays int64: cents (<= ~10^6) x one day of micros
    (8.64e10) x observations bounded by the day keeps it < 2^63 for
    any realistic per-key event rate; the state is O(1) per key.
    """
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("bigint")
    keyed = stream_df.select(
        "user_id",
        day.alias("day"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )

    def update(key, pdfs, state: GroupState):
        last_us, last_cents, num, den, n = (
            state.get if state.exists else (None, None, 0, 0, 0)
        )
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True).sort_values(
                ["us", "event_id"]
            )
            for us, cents in zip(batch["us"], batch["cents"]):
                us, cents = int(us), int(cents)
                if last_us is not None:
                    dur = us - last_us
                    num += last_cents * dur
                    den += dur
                    n += 1
                last_us, last_cents = us, cents
        state.update((last_us, last_cents, num, den, n))
        if den > 0:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "day": [int(key[1])],
                    "n_obs": [n],
                    "twap_cents": [num // den if num >= 0 else -((-num) // den)],
                }
            )

    return keyed.groupBy("user_id", "day").applyInPandasWithState(
        update,
        outputStructType="user_id long, day long, n_obs long, twap_cents long",
        stateStructType=(
            "last_us long, last_cents long, num long, den long, n long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_er_probe(
    stream_records: DataFrame,
    corpus: DataFrame,
    rules: list[tuple[str, int, int]],
    t_match: int,
    block_col: str = "blk",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time entity-resolution probe: each arriving record is
    blocked against a STATIC reference corpus and Fellegi-Sunter
    scored, emitting ``(id, matched_id, fs_score)`` for pairs at or
    above ``t_match`` — the streaming half of the ``q_er_clusters``
    pipeline (the batch side periodically re-resolves the full
    corpus; the probe gives the low-latency "is this a known
    entity?" answer between runs, the
    ``streaming_fuzzy_dedup_probe`` pattern).

    Stateless by construction: ONE stream-static equi-join on the
    block key (candidates bounded by block size — the same bound SNM
    blocking enforces batch-side), scoring row-local with the exact
    integer weights of ``operators.dedup.fellegi_sunter_scores``
    (both-NULL -> 0, one-sided NULL -> w_disagree).  No streaming
    aggregation, no watermark needed; corpus side is broadcast-sized
    per block in production (precompute and persist the blocked
    frame).
    """
    fields = [f for f, _, _ in rules]
    cside = corpus.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("matched_id"),
        *[F.col(f).alias(f"__b_{f}") for f in fields],
    )
    sside = stream_records.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("id"),
        *[F.col(f).alias(f"__a_{f}") for f in fields],
    )
    cand = sside.join(cside, "__blk").filter(F.col("id") != F.col("matched_id"))
    score = F.lit(0)
    for f, w_agree, w_disagree in rules:
        a, b = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        score = score + (
            F.when(a.isNull() & b.isNull(), 0)
            .when(a.eqNullSafe(b), w_agree)
            .otherwise(w_disagree)
        )
    return (
        cand.select(
            F.col("id").cast("bigint").alias("id"),
            F.col("matched_id").cast("bigint").alias("matched_id"),
            score.cast("bigint").alias("fs_score"),
        )
        .filter(F.col("fs_score") >= t_match)
    )


def streaming_peak_concurrency(
    stream_df: DataFrame,
    group_col: str = "event_type",
    start_col: str = "s",
    end_col: str = "e",
) -> DataFrame:
    """Live peak concurrency: the streaming form of
    ``operators.eventops.peak_concurrency`` — per group, the running
    peak of simultaneously-open intervals and the earliest instant it
    was reached, re-emitted every micro-batch that touches the group.

    Each interval explodes STATELESSLY to (+1 at start, -1 at end)
    boundary rows; per-group state is ONE tuple (open_now, peak,
    first_peak_ts).  Within a micro-batch boundaries sort by (t, d)
    with ends before coincident starts — the batch operator's exact
    tie rule — so a time-ordered replay emits, as the LAST row per
    group, the batch result bit-for-bit (parity test); cross-batch
    out-of-order arrival degrades to arrival order (the standing
    streaming contract).  State is O(1) per group key.
    """
    base = stream_df.select(
        F.col(group_col).alias("g"),
        F.col(start_col).cast("long").alias("s"),
        F.col(end_col).cast("long").alias("e"),
    ).filter(F.col("e") > F.col("s"))
    deltas = base.select(
        "g", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(base.select("g", F.col("e").alias("t"), F.lit(-1).alias("d")))

    def update(key, pdfs, state: GroupState):
        open_now, peak, first_t = (
            state.get if state.exists else (0, 0, None)
        )
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True).sort_values(
                ["t", "d"]
            )
            for t, d in zip(batch["t"], batch["d"]):
                open_now += int(d)
                if open_now > peak:
                    peak, first_t = open_now, int(t)
        state.update((open_now, peak, first_t))
        if peak > 0:
            yield pd.DataFrame(
                {
                    "g": [key[0]],
                    "peak_concurrent": [peak],
                    "first_peak_ts": [first_t],
                }
            )

    return deltas.groupBy("g").applyInPandasWithState(
        update,
        outputStructType="g string, peak_concurrent long, first_peak_ts long",
        stateStructType="open_now long, peak long, first_t long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hll(
    stream_df: DataFrame,
    group_col: str = "event_type",
    entity_col: str = "user_id",
) -> DataFrame:
    """Live distinct-count: the streaming form of
    ``operators.hll.hll_rollup`` — per group, the integer-exact HLL
    registers held as keyed state (one 256-entry register string,
    ~1 KB per group key, CONSTANT in stream length — the state-size
    contract exact-set distinct twins cannot give), estimate re-emitted
    every micro-batch that touches the group.

    The stateless front half (``operators.hll.register_frame``) and
    the integer estimate (``operators.hll.estimate_from_registers``)
    are the SAME code paths the batch operator and its DuckDB oracle
    pin down, so the twin's final row per group equals the batch
    row bit-for-bit on any replay — register max-merge is
    order-insensitive, so unlike the accumulator twins this parity
    holds under ARBITRARY cross-batch arrival order.
    """
    from cosmos_xenna_spark.operators.hll import (
        M,
        estimate_from_registers,
        register_frame,
    )

    contrib = register_frame(stream_df, group_col, entity_col).select(
        "scope", "bucket", "rho"
    )

    def update(key, pdfs, state: GroupState):
        (joined,) = state.get if state.exists else (",".join("0" * 1),)
        regs = (
            [int(x) for x in joined.split(",")]
            if state.exists
            else [0] * M
        )
        for pdf in pdfs:
            for b, r in zip(pdf["bucket"], pdf["rho"]):
                b, r = int(b), int(r)
                if r > regs[b]:
                    regs[b] = r
        state.update((",".join(str(r) for r in regs),))
        est, method, n_zero = estimate_from_registers(regs)
        yield pd.DataFrame(
            {
                "scope": [key[0]],
                "est_distinct": [est],
                "method": [method],
                "n_zero_registers": [n_zero],
            }
        )

    return contrib.groupBy("scope").applyInPandasWithState(
        update,
        outputStructType=(
            "scope string, est_distinct long, method string,"
            " n_zero_registers long"
        ),
        stateStructType="regs string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_transition_matrix(
    stream_df: DataFrame,
    entity_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Live Markov transitions: the streaming form of
    ``operators.eventops.transition_matrix`` — a CHANGELOG of
    ``(src, dst, delta)`` transition-count increments emitted as each
    entity's sequence extends (the serving-mode capability the
    reference exposes through its queue source, specs.py:511-518).

    Per-entity state is ONE row — the (epoch_us, id, type) of the
    latest event seen — so state is O(entities), independent of stream
    length.  Each micro-batch sorts its rows by (ts, id), prepends the
    carried last event, pairs consecutive types, and emits per-(src,
    dst) increments for this batch.  Spark forbids a second stateful
    aggregation downstream of applyInPandasWithState in one query, so
    the fold to the matrix (``SUM(delta) GROUP BY src, dst``; prob =
    n / per-src total) belongs to the consumer — foreachBatch into a
    keyed upsert, or the parity test's final fold, which matches the
    batch operator's counts EXACTLY on any time-ordered replay
    regardless of how batches split (the boundary pair comes from the
    carried event).  Cross-batch out-of-order arrival degrades to
    arrival-order pairing (the standing streaming-twin contract).
    """
    SEP = "\x1f"
    prepared = stream_df.select(
        F.col(entity_col).alias("entity"),
        F.unix_micros(F.col(ts_col)).alias("us"),
        F.col(id_col).cast("long").alias("eid"),
        F.col(type_col).cast("string").alias("etype"),
    )

    def update(key, pdfs, state: GroupState):
        last_us = last_id = None
        last_type = None
        if state.exists:
            (packed,) = state.get
            u, i, t = packed.split(SEP, 2)
            last_us, last_id, last_type = int(u), int(i), t
        rows = []
        for pdf in pdfs:
            rows.extend(
                (int(u), int(i), str(t))
                for u, i, t in zip(pdf["us"], pdf["eid"], pdf["etype"])
            )
        rows.sort()
        deltas: dict[tuple[str, str], int] = {}
        prev = last_type
        for _, _, t in rows:
            if prev is not None:
                k = (prev, t)
                deltas[k] = deltas.get(k, 0) + 1
            prev = t
        if rows:
            last_us, last_id, last_type = rows[-1]
            state.update((f"{last_us}{SEP}{last_id}{SEP}{last_type}",))
        out = sorted(deltas.items())
        yield pd.DataFrame(
            {
                "src": [k[0] for k, _ in out],
                "dst": [k[1] for k, _ in out],
                "delta": [d for _, d in out],
            }
        )

    return prepared.groupBy("entity").applyInPandasWithState(
        update,
        outputStructType="src string, dst string, delta long",
        stateStructType="last string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_gaps_islands(
    stream_df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Live gaps-and-islands: the streaming form of
    ``operators.eventops.gaps_islands`` — per entity, the CURRENT set
    of maximal consecutive-active-day runs, re-emitted (with a
    per-entity ``emit_seq``) whenever a batch touches the entity.

    Per-entity state is the disjoint interval list itself (one
    ``lo:hi`` pair per island) plus the sequence counter — bounded by
    the entity's island count, never by event count, because same-day
    events collapse into the existing interval.  Out-of-order days are
    handled EXACTLY (a late day that bridges two islands merges them),
    so unlike the accumulator twins this parity holds under ARBITRARY
    cross-batch arrival order: after a full replay the max-``emit_seq``
    snapshot per entity equals the batch operator bit-for-bit (parity
    test).  Update-mode emission; the consumer keeps the latest
    snapshot per entity.
    """
    SEP, KV = "\x1f", ":"
    day = F.datediff(
        F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    prepared = stream_df.select(
        F.col(entity_col).alias("entity"), day.alias("day")
    )

    def update(key, pdfs, state: GroupState):
        intervals: list[list[int]] = []
        seq = 0
        if state.exists:
            packed, seq = state.get
            if packed:
                intervals = [
                    [int(a), int(b)]
                    for a, b in (p.split(KV) for p in packed.split(SEP))
                ]
        days = set()
        for pdf in pdfs:
            days.update(int(d) for d in pdf["day"])
        for d in sorted(days):
            # insert day d, merging with any adjacent/overlapping runs
            lo, hi = d, d
            keep = []
            for a, b in intervals:
                if b < lo - 1 or a > hi + 1:
                    keep.append([a, b])
                else:
                    lo, hi = min(lo, a), max(hi, b)
            keep.append([lo, hi])
            keep.sort()
            intervals = keep
        seq += 1
        state.update(
            (
                SEP.join(f"{a}{KV}{b}" for a, b in intervals),
                seq,
            )
        )
        yield pd.DataFrame(
            {
                "entity": [int(key[0])] * len(intervals),
                "start_day": [a for a, _ in intervals],
                "end_day": [b for _, b in intervals],
                "n_days": [b - a + 1 for a, b in intervals],
                "emit_seq": [seq] * len(intervals),
            }
        )

    return prepared.groupBy("entity").applyInPandasWithState(
        update,
        outputStructType=(
            "entity long, start_day long, end_day long, n_days long,"
            " emit_seq long"
        ),
        stateStructType="islands string, seq long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_countmin(
    stream_df: DataFrame,
    token_col: str = "event_type",
) -> DataFrame:
    """Live frequency sketch: the streaming form of
    ``operators.cms`` — one Count-Min cell table (DEPTH x WIDTH
    integer cells, ~6 KB) held as keyed state, updated by pure cell
    ADDITION every micro-batch.

    The stateless front half (md5 bucket derivation) is the same
    hashing the batch operator and its DuckDB oracle pin down, and
    cell sums are order-insensitive, so the final emitted cell table
    equals the batch-built sketch bit-for-bit under ARBITRARY
    cross-batch arrival order (the HLL-twin contract, for frequencies
    instead of cardinalities). State is CONSTANT in stream length —
    the whole point of sketching a stream.
    """
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.cms import DEPTH, WIDTH

    contrib = stream_df.select(
        F.col(token_col).cast("string").alias("tok")
    ).select(
        F.lit("ALL").alias("scope"),
        F.explode(F.array(*[F.lit(d) for d in range(DEPTH)])).alias("d"),
        F.col("tok"),
    ).select(
        "scope",
        "d",
        F.pmod(
            md5_long63(
                F.concat(F.col("d").cast("string"), F.lit("#"), F.col("tok"))
            ),
            F.lit(WIDTH),
        ).alias("col"),
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n_tokens, joined = state.get
            cells = [int(x) for x in joined.split(",")]
        else:
            n_tokens, cells = 0, [0] * (DEPTH * WIDTH)
        n_rows = 0
        for pdf in pdfs:
            n_rows += len(pdf)
            for d, c in zip(pdf["d"], pdf["col"]):
                cells[int(d) * WIDTH + int(c)] += 1
        n_tokens += n_rows // DEPTH
        state.update((n_tokens, ",".join(str(v) for v in cells)))
        yield pd.DataFrame(
            {
                "scope": [key[0]],
                "n_tokens": [n_tokens],
                "nonzero_cells": [sum(1 for v in cells if v)],
                "cells": [",".join(str(v) for v in cells)],
            }
        )

    return contrib.groupBy("scope").applyInPandasWithState(
        update,
        outputStructType=(
            "scope string, n_tokens long, nonzero_cells long, cells string"
        ),
        stateStructType="n_tokens long, cells string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_kmv(
    stream_df: DataFrame,
    group_col: str = "event_type",
    entity_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Live KMV (theta) sketch: per group, the k smallest md5 entity
    hashes held as keyed state (k bigints, CONSTANT in stream length),
    re-emitted with the distinct-count estimate every micro-batch that
    touches the group.

    k-min merge is order-insensitive (the HLL-register contract), so
    the final per-group signature — and therefore every downstream
    set-operation estimate ``operators.kmv`` derives from it — equals
    the batch-built sketch bit-for-bit under ARBITRARY cross-batch
    arrival order. Completes the sketch-twin family: HLL
    (cardinality), Count-Min (frequency), KMV (set operations).
    """
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.kmv import _HASH_SPACE

    contrib = stream_df.select(
        F.col(group_col).cast("string").alias("scope"),
        md5_long63(F.col(entity_col).cast("string")).alias("h"),
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (joined,) = state.get
            mins = sorted(int(x) for x in joined.split(",") if x)
        else:
            mins = []
        seen = set(mins)
        for pdf in pdfs:
            for h in pdf["h"]:
                h = int(h)
                if h not in seen:
                    seen.add(h)
                    mins.append(h)
        mins = sorted(seen)[:k]
        state.update((",".join(str(v) for v in mins),))
        m = len(mins)
        if m < k:
            est = m
        else:
            est = int((k - 1) * _HASH_SPACE / mins[-1])
        yield pd.DataFrame(
            {
                "scope": [key[0]],
                "n_mins": [m],
                "kth_hash": [mins[-1] if mins else None],
                "est_distinct": [est],
                "signature": [",".join(str(v) for v in mins)],
            }
        )

    return contrib.groupBy("scope").applyInPandasWithState(
        update,
        outputStructType=(
            "scope string, n_mins long, kth_hash long, est_distinct long,"
            " signature string"
        ),
        stateStructType="mins string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ab_monitor(
    stream_df: DataFrame,
    experiment_col: str = "experiment",
    variant_col: str = "variant",
    convert_col: str = "converted",
) -> DataFrame:
    """Live A/B experiment monitor: the streaming twin of
    ``operators.stats.ab_test_two_proportion`` — per experiment, four
    O(1) counters (units and conversions per variant) held as keyed
    state and re-emitted with the current readout every micro-batch
    that touches the experiment: the dashboard row an experimentation
    platform refreshes as units arrive.

    Counter addition is order-insensitive (the HLL-twin contract), so
    the FINAL emitted counts — and therefore the exact ppm rates and
    the fixed-double z — equal the batch operator's bit-for-bit under
    arbitrary cross-batch arrival order (parity test). Input is
    unit-grain (each experimental unit arrives once); the state is
    four bigints per experiment, constant in stream length.

    The z/SRM finish here mirrors the batch operator's shared SQL
    expression in numpy doubles — the identical IEEE op sequence.
    """
    import math

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n_a, n_b, c_a, c_b = state.get
        else:
            n_a = n_b = c_a = c_b = 0
        for pdf in pdfs:
            for v, c in zip(pdf[variant_col], pdf[convert_col]):
                if int(v) == 0:
                    n_a += 1
                    c_a += int(c)
                else:
                    n_b += 1
                    c_b += int(c)
        state.update((n_a, n_b, c_a, c_b))
        z = None
        if n_a and n_b:
            pp = float(c_a + c_b) / float(n_a + n_b)
            se = math.sqrt(
                pp * (1.0 - pp) * (1.0 / float(n_a) + 1.0 / float(n_b))
            )
            z = (
                (float(c_b) / float(n_b) - float(c_a) / float(n_a)) / se
                if se != 0.0
                else None
            )
        yield pd.DataFrame(
            {
                "experiment": [str(key[0])],
                "n_a": [n_a],
                "n_b": [n_b],
                "conv_a": [c_a],
                "conv_b": [c_b],
                "rate_a_ppm": [1_000_000 * c_a // n_a if n_a else None],
                "rate_b_ppm": [1_000_000 * c_b // n_b if n_b else None],
                "z": [z],
                "significant": [
                    1 if z is not None and abs(z) >= 1.959963984540054 else 0
                ],
            }
        )

    return stream_df.groupBy(experiment_col).applyInPandasWithState(
        update,
        outputStructType=(
            "experiment string, n_a long, n_b long, conv_a long,"
            " conv_b long, rate_a_ppm long, rate_b_ppm long,"
            " z double, significant long"
        ),
        stateStructType="n_a long, n_b long, conv_a long, conv_b long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sequential_ab(
    stream_df: DataFrame,
    ts_us_min: int,
    ts_us_max: int,
    k_looks: int = 8,
    experiment_col: str = "experiment",
    variant_col: str = "variant",
    convert_col: str = "converted",
    ts_us_col: str = "ts_us",
) -> DataFrame:
    """Live group-sequential guardrail: the streaming twin of
    ``operators.stats.sequential_ab_looks`` — per experiment, K
    PER-LOOK counter quadruples (units/conversions per variant per
    interim look) held as keyed state, and on every micro-batch that
    touches the experiment the full K-row look table re-emitted:
    cumulative counters, pooled z, the O'Brien-Fleming-shaped boundary
    ``z_.025 * sqrt(K/k)``, crossing bit, cumulative early-stop flag.

    Look assignment is the batch operator's integer arithmetic
    verbatim (``min(K, 1 + (ts - min) * K // span)`` on nonnegative
    ints, where ``//`` == SQL ``DIV``); per-look counter addition is
    order-insensitive (the HLL-twin contract), so after full replay
    the emitted table equals the batch query's bit-for-bit under
    ARBITRARY cross-batch arrival order. The z / boundary finish
    mirrors the shared SQL expression's IEEE op sequence exactly.
    State is ``4 * k_looks`` bigints per experiment — constant in
    stream length. Looks whose own bucket is empty emit no row,
    matching the batch groupBy.
    """
    import math

    span = int(ts_us_max) - int(ts_us_min) + 1
    mn = int(ts_us_min)
    kk = int(k_looks)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (joined,) = state.get
            counts = [int(x) for x in joined.split(",")]
        else:
            counts = [0] * (4 * kk)
        for pdf in pdfs:
            for t, v, c in zip(
                pdf[ts_us_col], pdf[variant_col], pdf[convert_col]
            ):
                look = min(kk, 1 + (int(t) - mn) * kk // span)
                base = (look - 1) * 4
                if int(v) == 0:
                    counts[base] += 1
                    counts[base + 1] += int(c)
                else:
                    counts[base + 2] += 1
                    counts[base + 3] += int(c)
        state.update((",".join(str(x) for x in counts),))

        looks, nas, nbs, cas, cbs = [], [], [], [], []
        zs, bounds, crosseds, stoppeds = [], [], [], []
        n_a = n_b = c_a = c_b = 0
        stopped = 0
        for k in range(1, kk + 1):
            base = (k - 1) * 4
            own = (
                counts[base] + counts[base + 1]
                + counts[base + 2] + counts[base + 3]
            )
            n_a += counts[base]
            c_a += counts[base + 1]
            n_b += counts[base + 2]
            c_b += counts[base + 3]
            if own == 0:
                continue  # batch per_look groupBy has no row here
            z = None
            if n_a and n_b:
                pp = float(c_a + c_b) / float(n_a + n_b)
                se = math.sqrt(
                    pp * (1.0 - pp)
                    * (1.0 / float(n_a) + 1.0 / float(n_b))
                )
                z = (
                    (float(c_b) / float(n_b) - float(c_a) / float(n_a)) / se
                    if se != 0.0
                    else None
                )
            boundary = 1.959963984540054 * math.sqrt(float(kk) / float(k))
            crossed = 1 if z is not None and abs(z) >= boundary else 0
            stopped = max(stopped, crossed)
            looks.append(k)
            nas.append(n_a)
            nbs.append(n_b)
            cas.append(c_a)
            cbs.append(c_b)
            zs.append(z)
            bounds.append(boundary)
            crosseds.append(crossed)
            stoppeds.append(stopped)
        yield pd.DataFrame(
            {
                "experiment": [str(key[0])] * len(looks),
                "look": looks,
                "n_a": nas,
                "n_b": nbs,
                "conv_a": cas,
                "conv_b": cbs,
                "z": zs,
                "boundary": bounds,
                "crossed": crosseds,
                "stopped": stoppeds,
            }
        )

    return stream_df.groupBy(experiment_col).applyInPandasWithState(
        update,
        outputStructType=(
            "experiment string, look long, n_a long, n_b long,"
            " conv_a long, conv_b long, z double, boundary double,"
            " crossed long, stopped long"
        ),
        stateStructType="counts string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_grid_cells(
    stream_df: DataFrame,
    cell: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Live spatial cell counts: the streaming half of
    ``operators.spatial.grid_hotspots`` — per grid cell, the running
    point count as ONE integer of keyed state (O(1) per cell, the
    strongest state contract a twin can have; counts are
    order-insensitive, so parity holds under ARBITRARY cross-batch
    arrival, the HLL-twin property).

    The 3x3 neighborhood share is deliberately NOT computed here:
    cross-key state is the wrong streaming shape.  Exactly like the
    KMV/HLL twins, the stream accumulates the sufficient statistic
    and the bounded batch finish (``grid_hotspots``'s cell-frame join,
    grid-geometry-sized) composes on the final state — the parity
    test drives both halves.
    """
    pts = stream_df.select(
        F.expr(f"CAST(CAST({x_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cx"
        ),
        F.expr(f"CAST(CAST({y_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cy"
        ),
    )

    def update(key, pdfs, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame(
            {"cell_x": [int(key[0])], "cell_y": [int(key[1])], "n": [n]}
        )

    return pts.groupBy("cx", "cy").applyInPandasWithState(
        update,
        outputStructType="cell_x long, cell_y long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

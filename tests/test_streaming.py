"""Streaming tests: file-replayed events driving the same operator
shapes the batch oracle verified (SURVEY.md §5 port plan), plus
serving-sink and keyed-state parity."""

from __future__ import annotations

import datetime
import os
import shutil
import sys
import tempfile
import time

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.operators.pipeline import PipelineSpec, StageSpec
from cosmos_xenna_spark.operators.stage import Stage
from cosmos_xenna_spark.streaming import (
    events_file_stream,
    run_stages_streaming,
    serve,
    stateful_count,
    streaming_dedup,
    to_memory_sink,
    tumbling_counts,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])


@pytest.fixture(scope="module")
def events_dir(sf_dir):
    """Stage the single events.parquet into a directory (file-stream
    sources read directories), split into 3 files for multi-batch."""
    d = tempfile.mkdtemp(prefix="cxs_events_stream_")
    yield_dir = os.path.join(d, "events")
    os.makedirs(yield_dir)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(yield_dir, "events.parquet"))
    yield yield_dir
    shutil.rmtree(d, ignore_errors=True)


def _drain(q):
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def test_tumbling_counts_match_batch(spark, sf_dir, events_dir):
    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(tumbling_counts(stream), "t_tumbling", "complete")
    _drain(q)
    got = {
        (r.w_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.w_start, r.event_type): r.n
        for r in ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
        .collect()
    }
    assert got == want


def test_streaming_dedup_keeps_unique_ids(spark, sf_dir, events_dir):
    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_dedup(stream).select("event_id"), "t_dedup", "append")
    _drain(q)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    n_src = load_table(spark, sf_dir, "events").count()
    assert got.n == got.d == n_src


def test_stage_chain_runs_on_stream(spark, events_dir, sf_dir):
    """Two same-shape stages over a stream fuse into one Python
    evaluation per micro-batch, as in batch mode."""
    from cosmos_xenna_spark.plans import plan_nodes

    class ValueScaler(Stage):
        def setup(self):
            self.scale = 2.0

        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pd.DataFrame(
                {"event_id": pdf["event_id"], "v2": pdf["value"] * self.scale}
            )

    class AddOne(Stage):
        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.assign(v2=pdf["v2"] + 1.0)

    spec = PipelineSpec(
        stages=[
            StageSpec(ValueScaler, "event_id long, v2 double"),
            StageSpec(AddOne, "event_id long, v2 double"),
        ]
    )
    stream = events_file_stream(spark, events_dir)
    staged = run_stages_streaming(stream, spec)
    nodes = plan_nodes(staged)
    assert nodes.count("MapInPandas") == 1, nodes
    q = to_memory_sink(staged, "t_staged", "append")
    _drain(q)
    got = spark.sql("SELECT count(*) AS n, sum(v2) AS s FROM t_staged").collect()[0]
    ev = load_table(spark, sf_dir, "events")
    want = ev.select(
        F.count(F.lit(1)).alias("n"), (F.sum("value") * 2 + F.count(F.lit(1))).alias("s")
    ).collect()[0]
    assert got.n == want.n
    assert abs(got.s - want.s) < 1e-6


def test_serving_foreach_batch_sink(spark, events_dir, sf_dir):
    """SERVING parity: batches pushed to a collector callback."""
    received: list[int] = []

    def sink(batch_df, epoch_id: int):
        received.append(batch_df.count())

    stream = events_file_stream(spark, events_dir).select("event_id", "event_type")
    q = serve(stream, sink)
    _drain(q)
    assert sum(received) == load_table(spark, sf_dir, "events").count()


def test_stateful_count_matches_batch(spark, events_dir, sf_dir):
    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(stateful_count(stream), "t_state", "update")
    _drain(q)
    got = {
        r.user_id: r.n_events
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM t_state GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir):
    from cosmos_xenna_spark.streaming import stream_stream_join

    left = events_file_stream(spark, events_dir)
    right = events_file_stream(spark, events_dir)
    q = to_memory_sink(stream_stream_join(left, right), "t_ssj", "append")
    _drain(q)
    got = spark.sql("SELECT count(*) AS n FROM t_ssj").collect()[0].n

    ev = load_table(spark, sf_dir, "events")
    l = ev.select(F.col("user_id").alias("k"), F.col("ts").alias("l_ts"))
    r = ev.select(F.col("user_id").alias("rk"), F.col("ts").alias("r_ts"))
    want = (
        l.join(
            r,
            (F.col("k") == F.col("rk"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 minutes")),
        ).count()
    )
    assert got == want


def test_session_windows_match_batch_sessionization(spark, sf_dir, events_dir):
    """Streaming session_window sessions == batch lag/cumsum sessions
    (same gap): identical (user, n_events) multiset and session count."""
    from cosmos_xenna_spark.streaming import session_counts

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(session_counts(stream, gap="10 minutes"), "t_sessions", "complete")
    _drain(q)
    got = sorted(
        (r.user_id, r.n_events)
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    )

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_s = 600
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > gap_s)
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .count()
    )
    want = sorted((r.user_id, r["count"]) for r in sess.collect())
    assert got == want


def test_serving_queue_source_round_trip(spark):
    """Reference SERVING mode end-to-end: client pushes rows into a
    queue, the stream runs a Stage over them, results land in an output
    collector, and a None push raises the termination flag."""
    import time as _time

    from cosmos_xenna_spark.streaming.serving_source import (
        QueueServingDataSource,
        ServingQueueServer,
    )

    server = ServingQueueServer()
    try:
        q = server.queue("req")
        for i in range(10):
            q.put((i, f"msg-{i}"))

        spark.dataSource.register(QueueServingDataSource)
        stream = (
            spark.readStream.format("cxs_serving")
            .schema("id long, payload string")
            .options(**server.options("req"))
            .load()
        ).selectExpr("id", "upper(payload) AS payload")

        handle = to_memory_sink(stream, "t_serving", "append")
        try:
            handle.processAllAvailable()
            got = {
                (r.id, r.payload)
                for r in spark.sql("SELECT * FROM t_serving").collect()
            }
            assert got == {(i, f"MSG-{i}") for i in range(10)}

            # second wave: push-based incremental delivery
            for i in range(10, 15):
                q.put((i, f"msg-{i}"))
            handle.processAllAvailable()
            n = spark.sql("SELECT count(*) AS n FROM t_serving").collect()[0].n
            assert n == 15

            # reference 'None' sentinel -> termination flag
            q.put(None)
            handle.processAllAvailable()
            deadline = _time.time() + 10
            while _time.time() < deadline and not server.sentinel_seen("req"):
                handle.processAllAvailable()
                _time.sleep(0.2)
            assert server.sentinel_seen("req")
        finally:
            handle.stop()
            handle.awaitTermination(30)
            spark.streams.resetTerminated()
    finally:
        server.shutdown()


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill a streaming dedup query mid-input, restart from the same
    checkpoint with more input: every event_id appears exactly once in
    the file sink (state recovery + exactly-once file commit)."""
    import os
    import shutil

    from cosmos_xenna_spark.streaming import events_file_stream, streaming_dedup

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    ev = load_table(spark, sf_dir, "events").limit(2000).cache()
    # two overlapping waves: second re-delivers half of the first
    ev.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
        str(tmp_path / "w1")
    )
    shutil.copy(
        next(
            str(tmp_path / "w1" / f)
            for f in os.listdir(tmp_path / "w1")
            if f.endswith(".parquet")
        ),
        os.path.join(in_dir, "wave1.parquet"),
    )

    def start():
        # waves are re-written parquet with ts already converted to
        # timestamp -> read with the converted schema (EVENTS_DDL), not
        # the raw-nanos schema events_file_stream expects
        from cosmos_xenna_spark.streaming import EVENTS_DDL

        src = spark.readStream.schema(EVENTS_DDL).parquet(in_dir)
        stream = streaming_dedup(src, watermark="1 day")
        return (
            stream.selectExpr("event_id", "user_id")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q1 = start()
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination(30)

    # wave 2: ALL events (duplicates of wave 1 + new odd ids)
    ev.write.mode("overwrite").parquet(str(tmp_path / "w2"))
    for i, f in enumerate(os.listdir(tmp_path / "w2")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(tmp_path / "w2", f), os.path.join(in_dir, f"wave2_{i}.parquet"))

    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)
    spark.streams.resetTerminated()

    got = spark.read.parquet(out_dir)
    n_total = got.count()
    n_distinct = got.select("event_id").distinct().count()
    assert n_total == n_distinct, "restart must not re-emit deduped events"
    assert n_distinct == ev.select("event_id").distinct().count()
    ev.unpersist()


def test_idempotent_sink_skips_replayed_batches(spark, tmp_path):
    """At-least-once foreachBatch replay must not double-write through
    the ledger wrapper; fresh batch ids still go through."""
    from cosmos_xenna_spark.streaming import idempotent_sink

    calls = []

    def sink(df, batch_id):
        calls.append(batch_id)

    wrapped = idempotent_sink(sink, str(tmp_path / "ledger"))
    df = spark.range(3)
    wrapped(df, 0)
    wrapped(df, 1)
    wrapped(df, 0)  # replay after simulated restart
    wrapped(df, 2)
    assert calls == [0, 1, 2]


def test_idempotent_sink_failed_batch_retries(spark, tmp_path):
    """A sink failure must NOT mark the batch committed — the retry
    runs the sink again."""
    import pytest

    from cosmos_xenna_spark.streaming import idempotent_sink

    attempts = []

    def flaky(df, batch_id):
        attempts.append(batch_id)
        if len(attempts) == 1:
            raise RuntimeError("downstream outage")

    wrapped = idempotent_sink(flaky, str(tmp_path / "ledger"))
    df = spark.range(3)
    with pytest.raises(RuntimeError):
        wrapped(df, 7)
    wrapped(df, 7)  # replay: must execute, not skip
    assert attempts == [7, 7]


def test_streaming_incremental_agg_maintenance(spark, tmp_path):
    """Streaming materialized-view maintenance: a changelog stream
    applied batch-by-batch with incremental_agg_merge must land on the
    same aggregate a full recompute over the repaired facts gives."""
    from cosmos_xenna_spark.operators.cdc import OP_COL, incremental_agg_merge

    facts = [("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 1.0)]
    batch1 = [("a", 7.0, "I"), ("c", 1.0, "D")]          # c vanishes
    batch2 = [("b", 5.0, "D"), ("b", 100.0, "I"), ("d", 9.0, "I")]

    changes_dir = str(tmp_path / "changes")
    os.makedirs(changes_dir)
    log_schema = f"k string, v double, {OP_COL} string"
    for i, rows in enumerate([batch1, batch2]):
        spark.createDataFrame(rows, log_schema).coalesce(1).write.mode(
            "append"
        ).parquet(changes_dir)

    agg_path = str(tmp_path / "agg")
    base = (
        spark.createDataFrame(facts, "k string, v double")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("sum_v"),
        )
    )
    base.write.mode("overwrite").parquet(agg_path)

    def apply_batch(batch_df, batch_id):
        cur = spark.read.parquet(agg_path)
        merged = incremental_agg_merge(cur, batch_df, ["k"], ["v"])
        # materialize before overwriting the path being read
        rows = merged.collect()
        spark.createDataFrame(rows, merged.schema).write.mode("overwrite").parquet(agg_path)

    q = (
        spark.readStream.schema(log_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_dir)
        .writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final = {
        r["k"]: (r["n_rows"], float(r["sum_v"]))
        for r in spark.read.parquet(agg_path).collect()
    }
    # recompute: facts - deletes + inserts (both batches applied)
    assert final == {"a": (3, 37.0), "b": (1, 100.0), "d": (1, 9.0)}


def test_time_window_dedup_groups_match_batch(spark, sf_dir, events_dir):
    """Streaming (user, type, bucket) dedup retains exactly the same
    group keys as the batch dedup_time_window operator — the batch/
    stream parity for tumbling-bucket duplicate suppression."""
    from cosmos_xenna_spark.operators.eventops import dedup_time_window
    from cosmos_xenna_spark.streaming import streaming_time_window_dedup

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        streaming_time_window_dedup(stream, "10 minutes"), "t_twdedup", "append"
    )
    _drain(q)
    got_rows = spark.sql(
        "SELECT user_id, event_type, bucket_start, count(*) AS n FROM t_twdedup GROUP BY 1,2,3"
    ).collect()
    # exactly one survivor per group
    assert all(r.n == 1 for r in got_rows)
    got = {(r.user_id, r.event_type, r.bucket_start) for r in got_rows}
    ev = load_table(spark, sf_dir, "events")
    batch = dedup_time_window(ev, width_secs=600)
    want = {
        (r.user_id, r.event_type, r.b)
        for r in batch.select(
            "user_id",
            "event_type",
            F.timestamp_seconds(
                F.floor(F.unix_timestamp("ts") / 600) * 600
            ).alias("b"),
        ).collect()
    }
    assert got == want


def test_session_window_boundaries_match_batch_query(spark, sf_dir, events_dir):
    """STRONG session parity (r5 verdict directive): the live streaming
    ``F.session_window`` emits bit-identical (user, session_start,
    session_end, n) rows to the driver-verified batch q_session_window —
    boundaries and counts, not just per-user multisets."""
    from cosmos_xenna_spark.queries import load_registry
    from cosmos_xenna_spark.streaming import session_counts

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        session_counts(stream, gap="10 minutes"), "t_session_bounds", "complete"
    )
    _drain(q)
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("SELECT * FROM t_session_bounds").collect()
    )
    batch = load_registry()["q_session_window"].builder(spark, sf_dir)
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n)
        for r in batch.collect()
    )
    assert got == want


def test_streaming_fuzzy_dedup_probe_matches_batch(spark, sf_dir):
    """Streamed new-batch docs probed against the static corpus flag
    exactly the doc_ids the BATCH incremental dedup drops (same hashes,
    same banding, same verification — parity is set-for-set)."""
    import tempfile

    from cosmos_xenna_spark.operators.dedup import incremental_fuzzy_dedup
    from cosmos_xenna_spark.streaming import streaming_fuzzy_dedup_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new_docs = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)

    # batch ground truth: ids DROPPED by the batch operator
    kept = incremental_fuzzy_dedup(new_docs, corpus, "text", threshold=0.5)
    dropped_batch = {r.doc_id for r in new_docs.select("doc_id").collect()} - {
        r.doc_id for r in kept.select("doc_id").collect()
    }

    d = tempfile.mkdtemp(prefix="cxs_newdocs_stream_")
    new_docs.repartition(3).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    probe = streaming_fuzzy_dedup_probe(stream, corpus, threshold=0.5)
    q = to_memory_sink(probe, "t_fuzzy_probe", "append")
    _drain(q)
    flagged = {
        r.doc_id for r in spark.sql("SELECT DISTINCT doc_id FROM t_fuzzy_probe").collect()
    }
    assert flagged == dropped_batch
    # and every emitted match is a genuine verified pair
    for r in spark.sql("SELECT * FROM t_fuzzy_probe").collect():
        assert r.jaccard >= 0.5


def test_streaming_ohlc_bars_match_batch(spark, sf_dir, events_dir):
    """Live OHLC parity: every closed streaming bar is bit-identical to
    the batch ohlc_bars row over the same events — including the
    min_by/max_by open/close selections, not just counts."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import ohlc_bars
    from cosmos_xenna_spark.streaming import streaming_ohlc_bars

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_ohlc_bars(stream), "t_ohlc", "complete")
    _drain(q)
    got = sorted(
        (r.entity, r.bucket_start, r.open, r.high, r.low, r.close, r.n_events)
        for r in spark.sql("SELECT * FROM t_ohlc").collect()
    )
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        (r.entity, r.bucket_start, r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc_bars(ev).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_attribution_matches_batch(spark, sf_dir, events_dir):
    """Custom stateful operator parity: the live applyInPandasWithState
    last-touch attribution emits bit-identical rows to the batch window
    operator over the same (time-ordered) event replay."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import last_touch_attribution
    from cosmos_xenna_spark.streaming import streaming_last_touch_attribution

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        streaming_last_touch_attribution(stream), "t_attr", "append"
    )
    _drain(q)
    got = sorted(
        (r.conversion_id, r.entity, r.src_event_id, r.src_type, r.delay_us)
        for r in spark.sql("SELECT * FROM t_attr").collect()
    )
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        (r.conversion_id, r.entity, r.src_event_id, r.src_type, r.delay_us)
        for r in last_touch_attribution(ev).collect()
    )
    assert got == want and len(got) > 0


def test_serving_queue_source_chunked_push(spark):
    """Chunked pushes (list-valued queue items) deliver many rows per
    client put and interleave freely with per-row pushes and the None
    sentinel; the stream drains them with one manager call per
    micro-batch."""
    import time as _time

    from cosmos_xenna_spark.streaming.serving_source import (
        QueueServingDataSource,
        ServingQueueServer,
    )

    server = ServingQueueServer()
    try:
        q = server.queue("chunked")
        q.put([(i, f"c-{i}") for i in range(100)])   # one chunk
        q.put((100, "single"))                        # mixed single
        q.put([(101, "tail-a"), (102, "tail-b")])     # second chunk

        spark.dataSource.register(QueueServingDataSource)
        stream = (
            spark.readStream.format("cxs_serving")
            .schema("id long, payload string")
            .options(**server.options("chunked"))
            .load()
        )
        handle = to_memory_sink(stream, "t_chunked", "append")
        try:
            handle.processAllAvailable()
            rows = spark.sql("SELECT * FROM t_chunked").collect()
            assert len(rows) == 103
            got = {(r.id, r.payload) for r in rows}
            assert (100, "single") in got and (0, "c-0") in got and (102, "tail-b") in got

            q.put(None)
            handle.processAllAvailable()
            deadline = _time.time() + 10
            while not server.sentinel_seen("chunked") and _time.time() < deadline:
                _time.sleep(0.2)
            assert server.sentinel_seen("chunked")
        finally:
            handle.stop()
            handle.awaitTermination(30)
            spark.streams.resetTerminated()
    finally:
        server.shutdown()


def test_serving_reader_one_manager_call_per_read(monkeypatch):
    """``_ServingReader.read`` against a live queue server, without
    Spark: one drainer proxy per reader and one manager call per read,
    with push order, the None sentinel and the row cap unchanged."""
    from cosmos_xenna_spark.streaming.serving_source import (
        ServingQueueServer,
        _QueueManager,
        _ServingReader,
    )

    proxies, calls = [], []
    real_get_drainer = _QueueManager.get_drainer

    def counting_get_drainer(self, *args, **kwargs):
        proxy = real_get_drainer(self, *args, **kwargs)
        real_call = proxy._callmethod

        def counting_call(method, *a, **k):
            calls.append(method)
            return real_call(method, *a, **k)

        proxy._callmethod = counting_call
        proxies.append(proxy)
        return proxy

    monkeypatch.setattr(_QueueManager, "get_drainer", counting_get_drainer)

    def read(reader, start):
        rows, end = reader.read(start)
        return list(rows), end

    server = ServingQueueServer()
    try:
        q = server.queue("rd")
        reader = _ServingReader(server.options("rd"))
        assert read(reader, {"n": 0}) == ([], {"n": 0})

        q.put((1, "a"))
        q.put([(2, "b"), (3, "c")])
        q.put((4, "d"))
        assert read(reader, {"n": 0}) == (
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], {"n": 4}
        )

        q.put((5, "e"))
        q.put(None)
        q.put((6, "f"))
        assert read(reader, {"n": 4}) == ([(5, "e")], {"n": 5})
        assert server.sentinel_seen("rd")
        assert read(reader, {"n": 5}) == ([(6, "f")], {"n": 6})
        assert (len(proxies), calls) == (1, ["drain"] * 4)

        capped = _ServingReader({**server.options("rd"), "maxrowsperbatch": "3"})
        for i in range(5):
            q.put((10 + i, "s"))
        assert read(capped, {"n": 0}) == ([(10 + i, "s") for i in range(3)], {"n": 3})
        assert read(capped, {"n": 3}) == ([(13, "s"), (14, "s")], {"n": 5})
        q.put([(20 + i, "c") for i in range(5)])  # a chunk may overshoot the cap
        assert read(capped, {"n": 5})[1] == {"n": 10}
        assert (len(proxies), calls) == (2, ["drain"] * 7)
    finally:
        server.shutdown()


def test_streaming_abandoned_carts_timers(spark, tmp_path):
    """Event-time TIMEOUTS: a source event with no conversion inside
    the timeout emits exactly one row when the watermark passes the
    deadline; conversions and re-arms do not."""
    from datetime import datetime

    from cosmos_xenna_spark.streaming import streaming_abandoned_carts

    d = str(tmp_path / "stream_in")
    rows1 = [
        # user 1: view, never purchases -> abandoned
        (1, datetime(2024, 1, 1, 10, 0), 1, "view", 0.0, "{}"),
        # user 2: view then purchase inside the 10-min timeout -> clean
        (2, datetime(2024, 1, 1, 10, 0), 2, "view", 0.0, "{}"),
        (3, datetime(2024, 1, 1, 10, 5), 2, "purchase", 0.0, "{}"),
        # user 3: re-armed by a second view; abandoned from THAT one
        (4, datetime(2024, 1, 1, 10, 0), 3, "view", 0.0, "{}"),
        (5, datetime(2024, 1, 1, 10, 30), 3, "view", 0.0, "{}"),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(d)

    stream = events_file_stream(spark, d, schema=schema)
    out = streaming_abandoned_carts(
        stream, timeout_secs=600, watermark="1 minute"
    )
    q = to_memory_sink(out, "t_abandoned", "append")
    try:
        q.processAllAvailable()
        # heartbeat far in the future pushes the watermark past every
        # deadline; timers fire on the induced batch
        hb = [(99, datetime(2024, 1, 1, 12, 0), 99, "error", 0.0, "{}")]
        spark.createDataFrame(hb, schema).coalesce(1).write.mode("append").parquet(d)
        q.processAllAvailable()
        got = {
            (r.user_id, r.src_event_id)
            for r in spark.sql("SELECT * FROM t_abandoned").collect()
        }
        assert got == {(1, 1), (3, 5)}
    finally:
        q.stop()
        q.awaitTermination(30)
        spark.streams.resetTerminated()


def test_streaming_abandoned_carts_tws_requires_protobuf():
    """A transformWithStateInPandas variant of streaming_abandoned_carts
    needs protobuf (the TWS state-server protocol dep, not installed).
    When the dependency exists, add the variant with a full parity run
    against streaming_abandoned_carts here."""
    import pytest

    pytest.importorskip("google.protobuf")


def test_streaming_substring_dedup_matches_batch(spark, sf_dir):
    """Arrival-order ExactSubstr parity: replaying a doc corpus through
    the streaming ingest dedup (static corpus -> index; stream docs in
    one micro-batch) reproduces the BATCH substring report bit-exactly
    on the arriving docs."""
    import tempfile

    from cosmos_xenna_spark.operators.substring import (
        IncrementalSubstringDedup,
        substring_dedup_report,
    )
    from cosmos_xenna_spark.streaming import streaming_substring_dedup

    K = 20
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    # stream ids remapped above the corpus range so the batch ground
    # truth's (doc_id, pos) order equals arrival order
    stream_docs = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )

    want = {
        r.doc_id: (r.doc_len, r.n_spans, r.n_chars_removed)
        for r in substring_dedup_report(corpus.unionByName(stream_docs), k=K)
        .filter(F.col("doc_id") >= 1_000_000)
        .collect()
    }
    assert any(v[1] > 0 for v in want.values())  # the corpus must exercise repeats

    d = tempfile.mkdtemp(prefix="cxs_substr_stream_")
    stream_docs.coalesce(1).write.mode("overwrite").parquet(d)
    state = IncrementalSubstringDedup(corpus, k=K)
    results: list = []
    stream = spark.readStream.schema("doc_id long, text string").parquet(d)
    q = streaming_substring_dedup(
        stream, state, lambda report, bid: results.extend(report.collect())
    )
    _drain(q)
    got = {r.doc_id: (r.doc_len, r.n_spans, r.n_chars_removed) for r in results}
    assert got == want


def test_incremental_substring_dedup_multi_batch_matches_batch(spark, sf_dir):
    """Cross-batch index maintenance: three arrival-ordered batches
    through IncrementalSubstringDedup == the batch operator over the
    whole corpus (repeats across batches must be caught by the index,
    not just within-batch windows)."""
    from cosmos_xenna_spark.operators.substring import (
        IncrementalSubstringDedup,
        substring_dedup_report,
    )

    K = 20
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = {
        r.doc_id: (r.doc_len, r.n_spans, r.n_chars_removed)
        for r in substring_dedup_report(docs, k=K).collect()
    }

    state = IncrementalSubstringDedup(None, k=K)
    got: dict = {}
    bounds = docs.approxQuantile("doc_id", [0.33, 0.66], 0.0)
    lo, hi = int(bounds[0]), int(bounds[1])
    for cond in (
        F.col("doc_id") <= lo,
        (F.col("doc_id") > lo) & (F.col("doc_id") <= hi),
        F.col("doc_id") > hi,
    ):
        report = state.process_batch(docs.filter(cond))
        got.update(
            {r.doc_id: (r.doc_len, r.n_spans, r.n_chars_removed) for r in report.collect()}
        )
    assert got == want
    assert state.index_size() > 0


def test_streaming_golden_record_matches_batch(spark, sf_dir):
    """Live survivorship parity: members replayed in micro-batches
    through the stateful streaming golden record converge to rows
    bit-identical to the batch golden_record, however arrivals split."""
    import tempfile

    from cosmos_xenna_spark.operators.dedup import golden_record
    from cosmos_xenna_spark.streaming import streaming_golden_record

    members = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 37).alias("cluster_id"), "text", "n_chars", "doc_id"
    )
    want = {
        r.cluster_id: (r.n_members, r.text, r.doc_id, r.sum_n_chars)
        for r in golden_record(
            members, "cluster_id", {"text": "n_chars", "doc_id": "n_chars"}, ["n_chars"]
        ).collect()
    }

    d = tempfile.mkdtemp(prefix="cxs_golden_stream_")
    members.repartition(3).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(
        "cluster_id long, text string, n_chars long, doc_id long"
    ).parquet(d)
    out = streaming_golden_record(
        stream, "cluster_id", {"text": "n_chars", "doc_id": "n_chars"}, ["n_chars"]
    )
    q = to_memory_sink(out, "t_golden", "update")
    _drain(q)
    rows = spark.sql("SELECT * FROM t_golden").collect()
    latest: dict = {}
    for r in rows:
        if r.cluster_id not in latest or r.n_members > latest[r.cluster_id].n_members:
            latest[r.cluster_id] = r
    got = {
        c: (r.n_members, r.text, r.doc_id, r.sum_n_chars) for c, r in latest.items()
    }
    assert got == want and len(got) > 0


def test_streaming_cusum_matches_batch(spark, sf_dir, events_dir):
    """O(1)-state CUSUM parity: the live recurrence (cum, runmin state)
    emits bit-identical Page statistics to the batch closed-form
    (prefix-sum minus running-min) operator over the same replay."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.timeseries import cusum_changepoint
    from cosmos_xenna_spark.streaming import streaming_cusum

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        streaming_cusum(stream, drift_cents=550, threshold_cents=2500), "t_cusum", "append"
    )
    _drain(q)
    got = sorted(
        (r.event_id, r.entity, r.cusum, r.alarm)
        for r in spark.sql("SELECT * FROM t_cusum").collect()
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    want = sorted(
        (r.event_id, r.user_id, r.cusum, r.alarm)
        for r in cusum_changepoint(
            ev, ["user_id"], "ts", "value",
            drift_cents=550, threshold_cents=2500, order_tiebreak=["event_id"],
        ).collect()
    )
    assert got == want and len(got) > 0
    assert any(a == 1 for _, _, _, a in got)  # alarms actually fire


def test_streaming_rolling_distinct_matches_batch(spark, sf_dir, events_dir):
    """Bounded-state rolling distinct parity: the live last-N-types
    state emits bit-identical counts to the batch keyed-window
    collect_list form over the same replay."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import rolling_distinct_count
    from cosmos_xenna_spark.streaming import streaming_rolling_distinct

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_rolling_distinct(stream, window_rows=5), "t_rdist", "append")
    _drain(q)
    got = sorted(
        (r.event_id, r.entity, r.n_distinct)
        for r in spark.sql("SELECT * FROM t_rdist").collect()
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    want = sorted(
        (r.event_id, r.user_id, r.n_distinct)
        for r in rolling_distinct_count(
            ev, ["user_id"], "ts", "event_type", window_rows=5, order_tiebreak=["event_id"]
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_rolling_median_matches_batch(spark, sf_dir, events_dir):
    """Bounded-state rolling median parity: the live last-N-cents state
    emits bit-identical medians to the batch keyed-window sorted-frame
    operator over the same replay (VERDICT r7 #6)."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.timeseries import rolling_median
    from cosmos_xenna_spark.streaming import streaming_rolling_median

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        streaming_rolling_median(stream, window_rows=5), "t_rmed", "append"
    )
    _drain(q)
    got = sorted(
        (r.event_id, r.entity, r.rolling_median)
        for r in spark.sql("SELECT * FROM t_rmed").collect()
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    want = sorted(
        (r.event_id, r.user_id, r.rolling_median)
        for r in rolling_median(
            ev, ["user_id"], "ts", "value", window_rows=5,
            order_tiebreak=["event_id"],
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_dau_wau_matches_batch(spark, sf_dir, events_dir):
    """Contribution-explode DAU/WAU parity: the final update-mode row
    per day equals the batch operator on days with dau > 0
    (VERDICT r7 #6). Exact-set state; the docstring carries the HLL
    swap contract for billion-entity scale."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import dau_wau_stickiness
    from cosmos_xenna_spark.streaming import streaming_dau_wau

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_dau_wau(stream), "t_dauwau", "update")
    _drain(q)
    rows = spark.sql(
        "SELECT day, dau, wau, stickiness_ppm FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY day ORDER BY wau DESC, dau DESC) AS rn"
        "  FROM t_dauwau) WHERE rn = 1 AND dau > 0"
    ).collect()
    got = sorted((r.day, r.dau, r.wau, r.stickiness_ppm) for r in rows)
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    want = sorted(
        (r.day, r.dau, r.wau, r.stickiness_ppm)
        for r in dau_wau_stickiness(ev, "ts", "user_id").collect()
    )
    assert got == want and len(got) > 0


def test_streaming_simpson_diversity_matches_batch(spark, sf_dir, events_dir):
    """Bounded-state Simpson parity: the live category-count-map state
    emits (last row per entity) exactly the batch two-draw-collision
    ppm on entities with >= 2 events."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.stats import simpson_diversity
    from cosmos_xenna_spark.streaming import streaming_simpson_diversity

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_simpson_diversity(stream), "t_simp", "update")
    _drain(q)
    rows = spark.sql(
        "SELECT entity, n_categories, n_rows, simpson_ppm FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY entity ORDER BY n_rows DESC) AS rn"
        "  FROM t_simp) WHERE rn = 1 AND n_rows >= 2"
    ).collect()
    got = sorted((r.entity, r.n_categories, r.n_rows, r.simpson_ppm) for r in rows)
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    want = sorted(
        (r.user_id, r.n_categories, r.n_rows, r.simpson_ppm)
        for r in simpson_diversity(ev, ["user_id"], "event_type").collect()
    )
    assert got == want and len(got) > 0


def test_streaming_burst_days_matches_batch(spark, sf_dir, events_dir):
    """Bounded-state burst parity: the live trailing day-count map's
    final emission per (type, day) equals the batch RANGE-frame
    operator's burst rows over the same replay."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import burst_days
    from cosmos_xenna_spark.streaming import streaming_burst_days

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        streaming_burst_days(stream, mult_ppt=1300, min_base=7),
        "t_burst", "update",
    )
    _drain(q)
    rows = spark.sql(
        "SELECT etype, day, n, prev_sum FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY etype, day ORDER BY n DESC, prev_sum DESC) AS rn"
        "  FROM t_burst) WHERE rn = 1 AND is_burst = 1"
    ).collect()
    got = sorted((r.etype, r.day, r.n, r.prev_sum) for r in rows)
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type")
    want = sorted(
        (r.etype, r.day, r.n, r.prev_sum)
        for r in burst_days(ev, "ts", "event_type", mult_ppt=1300, min_base=7).collect()
    )
    assert got == want and len(got) > 0


def test_synthetic_rate_stream_feeds_stateful_ops(spark):
    """The rate source leg: deterministic synthetic events drive a
    stateful operator end-to-end without any files."""
    from cosmos_xenna_spark.streaming import (
        streaming_simpson_diversity,
        synthetic_rate_stream,
    )

    stream = synthetic_rate_stream(spark, rows_per_second=500, n_users=7)
    q = to_memory_sink(streaming_simpson_diversity(stream), "t_rate", "update")
    try:
        deadline = time.time() + 25
        rows = []
        while time.time() < deadline:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM t_rate").collect()
            if len(rows) >= 5:
                break
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(rows) >= 1
    assert all(0 <= r.entity < 7 for r in rows)
    assert all(
        r.simpson_ppm is None or 0 <= r.simpson_ppm <= 1_000_000 for r in rows
    )


def test_streaming_dau_wau_evicts_old_day_keys(spark, tmp_path):
    """Opt-in watermark eviction (ADVICE r8): day keys whose day end
    fell more than evict_after_days behind the watermark are REMOVED
    from the state store (observed via numRowsTotal in query
    progress), and stragglers older than the watermark are dropped
    before the operator, so the evicted day's emissions never
    regress."""
    from cosmos_xenna_spark.streaming import streaming_dau_wau

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)

    def drop(rows):
        spark.createDataFrame(rows, "user_id long, ts_s string").selectExpr(
            "user_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(src)

    def state_rows(query):
        p = query.lastProgress
        ops = (p or {}).get("stateOperators") or []
        return ops[0]["numRowsTotal"] if ops else None

    drop([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00")])
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = streaming_dau_wau(stream, window_days=2, evict_after_days=2)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_dau_evict")
        .start()
    )
    try:
        q.processAllAvailable()
        before = state_rows(q)  # 2 day keys (explode window_days=2)
        # watermark jump; the timeout fires in the batch AFTER the one
        # whose data advanced the watermark
        drop([(9, "2024-03-01 00:00:00")])
        q.processAllAvailable()
        drop([(9, "2024-03-02 00:00:00")])
        q.processAllAvailable()
        after = state_rows(q)
        # straggler for the evicted day: dropped by the watermark
        drop([(3, "2024-01-01 12:00:00")])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert before == 2
    # the two 2024-01 keys were evicted; the 2024-03 keys remain
    # (2024-03-01 contributes to 2 days, 2024-03-02 to 2 days, one
    # shared -> 3 live keys)
    assert after == 3
    day0 = (
        pd.Timestamp("2024-01-01").date() - pd.Timestamp("1970-01-01").date()
    ).days
    rows = {
        (r.dau, r.wau)
        for r in spark.sql(
            f"SELECT dau, wau FROM t_dau_evict WHERE day = {day0}"
        ).collect()
    }
    # the only emission for day0 is the pre-eviction one; the straggler
    # was filtered, never re-creating the key
    assert rows == {(2, 2)}


def test_streaming_twap_matches_batch(spark, sf_dir, events_dir):
    """O(1)-state TWAP parity: the live (last_us, last_cents, num, den)
    accumulator emits, as the LAST row per (user, day) of a
    time-ordered replay, exactly the batch lead-window operator's
    duration-weighted mean."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import time_weighted_average
    from cosmos_xenna_spark.streaming import streaming_twap

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_twap(stream), "t_twap", "update")
    _drain(q)
    rows = spark.sql(
        "SELECT user_id, day, n_obs, twap_cents FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY user_id, day ORDER BY n_obs DESC) AS rn"
        "  FROM t_twap) WHERE rn = 1"
    ).collect()
    got = sorted((r.user_id, r.day, r.n_obs, r.twap_cents) for r in rows)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value", "event_id"
    )
    want = sorted(
        (r.user_id, r.day, r.n_obs, r.twap_cents)
        for r in time_weighted_average(
            ev, ["user_id"], "ts", "value", "event_id"
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_er_probe_matches_batch_scores(spark, sf_dir, events_dir, tmp_path):
    """Ingest-time ER probe parity: every (stream record x same-block
    corpus record) pair at or above t_match is emitted with exactly the
    batch Fellegi-Sunter score (one stream-static join, stateless)."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.dedup import fellegi_sunter_scores
    from cosmos_xenna_spark.streaming import streaming_er_probe

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.concat(F.col("lang"), F.substring(F.lower("text"), 1, 1)).alias("blk"),
        "lang",
        F.expr("length(text) div 50").alias("len_bucket"),
        F.split("text", " ").getItem(0).alias("first_tok"),
    )
    corpus = keyed.filter(F.col("doc_id") % 5 != 0)
    probe_batch = keyed.filter(F.col("doc_id") % 5 == 0)
    probe_dir = str(tmp_path / "probe")
    probe_batch.write.parquet(probe_dir)
    rules = [("lang", 8, -3), ("len_bucket", 6, -2), ("first_tok", 15, -10)]

    stream = spark.readStream.schema(probe_batch.schema).parquet(probe_dir)
    out = streaming_er_probe(stream, corpus, rules, t_match=20)
    q = out.writeStream.outputMode("append").format("memory").queryName(
        "t_erprobe"
    ).start()
    _drain(q)
    got = {
        (r.id, r.matched_id): r.fs_score
        for r in spark.sql("SELECT * FROM t_erprobe").collect()
    }

    # batch reference: same block join + the canonical FS scorer
    pairs = (
        probe_batch.select(F.col("blk"), F.col("doc_id").alias("id_a"))
        .join(
            corpus.select(F.col("blk"), F.col("doc_id").alias("id_b")), "blk"
        )
        .select("id_a", "id_b")
    )
    records = keyed.select("doc_id", "lang", "len_bucket", "first_tok")
    want = {
        (r.id_a, r.id_b): r.fs_score
        for r in fellegi_sunter_scores(
            pairs, records, "doc_id", rules, t_match=20, t_possible=0
        )
        .filter(F.col("decision") == "match")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_peak_concurrency_matches_batch(spark, sf_dir, events_dir):
    """O(1)-state live peak parity: the (open_now, peak, first_ts)
    accumulator over exploded +1/-1 boundaries emits, as the LAST row
    per group of a time-ordered replay, exactly the batch boundary-
    sweep operator's (peak, first instant)."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import peak_concurrency
    from cosmos_xenna_spark.streaming import streaming_peak_concurrency

    def intervals(df):
        s = F.expr("unix_micros(ts) div 1000000")
        return df.select(
            "event_type",
            s.alias("s"),
            (s + 60 + F.pmod(F.floor("value").cast("bigint"), F.lit(540))).alias("e"),
        )

    stream = intervals(events_file_stream(spark, events_dir))
    q = to_memory_sink(
        streaming_peak_concurrency(stream, group_col="event_type"),
        "t_peak",
        "update",
    )
    _drain(q)
    rows = spark.sql(
        "SELECT g, peak_concurrent, first_peak_ts FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY g ORDER BY peak_concurrent DESC) AS rn"
        "  FROM t_peak) WHERE rn = 1"
    ).collect()
    got = sorted((r.g, r.peak_concurrent, r.first_peak_ts) for r in rows)
    ev = intervals(load_table(spark, sf_dir, "events"))
    want = sorted(
        (r.event_type, r.peak_concurrent, r.first_peak_ts)
        for r in peak_concurrency(ev, ["event_type"], "s", "e").collect()
    )
    assert got == want and len(got) > 0


def test_streaming_hll_matches_batch(spark, sf_dir, events_dir):
    """Constant-state HLL twin: the per-group register string merges by
    max across micro-batches, so the LAST row per group equals the
    batch hll_rollup row under ANY arrival order (max is
    order-insensitive — stronger than the accumulator twins'
    ordered-replay contract)."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.hll import hll_rollup
    from cosmos_xenna_spark.streaming import streaming_hll

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_hll(stream), "t_hll", "update")
    _drain(q)
    rows = spark.sql(
        "SELECT scope, est_distinct, method, n_zero_registers FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY scope ORDER BY n_zero_registers ASC,"
        "    est_distinct DESC) AS rn"
        "  FROM t_hll) WHERE rn = 1"
    ).collect()
    got = sorted(
        (r.scope, r.est_distinct, r.method, r.n_zero_registers) for r in rows
    )
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    want = sorted(
        (r.scope, r.est_distinct, r.method, r.n_zero_registers)
        for r in hll_rollup(ev, "event_type", "user_id").collect()
        if r.scope != "ALL"
    )
    assert got == want and len(got) > 0


def test_streaming_transition_matrix_matches_batch(spark, sf_dir, events_dir):
    """Changelog parity: folding the emitted (src, dst, delta) stream
    equals the batch Markov operator's counts exactly on a time-ordered
    replay; prob re-derives as exact integer ratio from the fold."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import transition_matrix
    from cosmos_xenna_spark.streaming import streaming_transition_matrix

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(
        streaming_transition_matrix(stream), "t_trans", "append"
    )
    _drain(q)
    got = {
        (r.src, r.dst): r.n
        for r in spark.sql(
            "SELECT src, dst, CAST(SUM(delta) AS BIGINT) AS n"
            " FROM t_trans GROUP BY src, dst"
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    want = {
        (r.src, r.dst): r.n
        for r in transition_matrix(
            ev, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_transition_matrix_batch_boundary_pairing(spark, tmp_path):
    """The carried last-event state pairs ACROSS micro-batches: two
    files split one user's sequence mid-stream and the boundary
    transition still appears exactly once."""
    from cosmos_xenna_spark.streaming import streaming_transition_matrix

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)

    def drop(rows, name):
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts_s string"
        ).selectExpr(
            "event_id", "user_id", "event_type", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(src)

    drop([(1, 7, "a", "2024-01-01 10:00:00"), (2, 7, "b", "2024-01-01 10:01:00")], "f1")
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, ts timestamp"
    ).parquet(src)
    q = to_memory_sink(
        streaming_transition_matrix(stream), "t_trans_split", "append"
    )
    try:
        q.processAllAvailable()
        drop([(3, 7, "c", "2024-01-01 10:02:00")], "f2")
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {
        (r.src, r.dst): r.n
        for r in spark.sql(
            "SELECT src, dst, CAST(SUM(delta) AS BIGINT) AS n"
            " FROM t_trans_split GROUP BY src, dst"
        ).collect()
    }
    assert got == {("a", "b"): 1, ("b", "c"): 1}


def test_streaming_gaps_islands_matches_batch(spark, sf_dir, events_dir):
    """Interval-merge parity: the max-emit_seq snapshot per entity
    equals the batch rank-difference operator bit-for-bit (day
    ordinals vs dates mapped through days-since-epoch)."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.eventops import gaps_islands
    from cosmos_xenna_spark.streaming import streaming_gaps_islands

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_gaps_islands(stream), "t_gaps", "update")
    _drain(q)
    got = sorted(
        (r.entity, r.start_day, r.end_day, r.n_days)
        for r in spark.sql(
            "SELECT entity, start_day, end_day, n_days FROM ("
            "  SELECT *, MAX(emit_seq) OVER (PARTITION BY entity) AS mx"
            "  FROM t_gaps) WHERE emit_seq = mx"
        ).collect()
    )
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    epoch = datetime.date(1970, 1, 1)
    want = sorted(
        (
            r.entity,
            (r.start_day - epoch).days,
            (r.end_day - epoch).days,
            r.n_days,
        )
        for r in gaps_islands(ev, "user_id", "ts").collect()
    )
    assert got == want and len(got) > 0


def test_streaming_gaps_islands_merges_bridging_day(spark, tmp_path):
    """A late-arriving day that BRIDGES two existing islands merges
    them into one — the exact out-of-order case accumulator twins
    can't handle, handled here because state is the interval set."""
    from cosmos_xenna_spark.streaming import streaming_gaps_islands

    src = str(tmp_path / "in")
    os.makedirs(src, exist_ok=True)

    def drop(rows):
        spark.createDataFrame(rows, "user_id long, ts_s string").selectExpr(
            "user_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        ).coalesce(1).write.mode("append").parquet(src)

    drop([(7, "2024-01-01 10:00:00"), (7, "2024-01-03 10:00:00")])
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = to_memory_sink(streaming_gaps_islands(stream), "t_gaps_br", "update")
    try:
        q.processAllAvailable()
        two = spark.sql(
            "SELECT COUNT(*) AS n FROM t_gaps_br WHERE emit_seq = 1"
        ).collect()[0].n
        drop([(7, "2024-01-02 10:00:00")])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert two == 2
    final = spark.sql(
        "SELECT start_day, end_day, n_days FROM t_gaps_br WHERE emit_seq = 2"
    ).collect()
    assert len(final) == 1 and final[0].n_days == 3


def test_streaming_countmin_matches_batch(spark, sf_dir, events_dir):
    """Constant-state Count-Min twin: cell sums are order-insensitive,
    so the final emitted cell table equals the batch-built sketch
    bit-for-bit under any cross-batch arrival order."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.cms import DEPTH, WIDTH
    from cosmos_xenna_spark.streaming import streaming_countmin

    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_countmin(stream), "t_cms", "update")
    _drain(q)
    final = spark.sql(
        "SELECT * FROM t_cms ORDER BY n_tokens DESC LIMIT 1"
    ).collect()[0]
    got = [int(x) for x in final.cells.split(",")]

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").cast("string").alias("tok")
    )
    cells = (
        ev.select(
            F.explode(F.array(*[F.lit(d) for d in range(DEPTH)])).alias("d"),
            "tok",
        )
        .select(
            "d",
            F.pmod(
                md5_long63(
                    F.concat(F.col("d").cast("string"), F.lit("#"), F.col("tok"))
                ),
                F.lit(WIDTH),
            ).alias("col"),
        )
        .groupBy("d", "col")
        .agg(F.count(F.lit(1)).alias("cell"))
        .collect()
    )
    want = [0] * (DEPTH * WIDTH)
    for r in cells:
        want[int(r.d) * WIDTH + int(r.col)] = int(r.cell)
    assert got == want
    assert final.n_tokens == ev.count()
    assert final.nonzero_cells == sum(1 for v in want if v)


def test_streaming_kmv_matches_batch(spark, sf_dir, events_dir):
    """Constant-state KMV twin: k-min merge is order-insensitive, so
    the final per-group signature equals the batch k smallest distinct
    hashes bit-for-bit under any cross-batch arrival order."""
    from pyspark.sql import Window

    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.streaming import streaming_kmv

    k = 16
    stream = events_file_stream(spark, events_dir)
    q = to_memory_sink(streaming_kmv(stream, k=k), "t_kmv", "update")
    _drain(q)
    rows = spark.sql(
        "SELECT scope, signature FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY scope ORDER BY n_mins DESC, kth_hash ASC) AS rn"
        "  FROM t_kmv) WHERE rn = 1"
    ).collect()
    got = {r.scope: r.signature for r in rows}

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").cast("string").alias("scope"),
        md5_long63(F.col("user_id").cast("string")).alias("h"),
    ).distinct()
    w = Window.partitionBy("scope").orderBy(F.asc("h"))
    want_rows = (
        ev.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= k).collect()
    )
    want: dict = {}
    for r in sorted(want_rows, key=lambda r: (r.scope, r.h)):
        want.setdefault(r.scope, []).append(str(r.h))
    assert got == {s: ",".join(v) for s, v in want.items()} and len(got) > 0


def test_streaming_ab_monitor_matches_batch(spark, sf_dir, tmp_path):
    """O(1)-counter A/B twin: counter addition is order-insensitive, so
    after a full replay of the unit-grain frame (split across files ->
    multiple micro-batches) the final emitted counts, ppm rates and the
    fixed-double z equal the batch operator's bit-for-bit."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.stats import ab_test_two_proportion
    from cosmos_xenna_spark.streaming import streaming_ab_monitor

    ev = load_table(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.when(F.min_by("event_type", "event_id") == "purchase", 1)
            .otherwise(0)
            .alias("converted")
        )
        .select(
            F.lit("exp1").alias("experiment"),
            (md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2)
            .alias("variant"),
            "converted",
        )
    )
    d = str(tmp_path / "units")
    units.repartition(3).write.parquet(d)  # 3 files -> cross-batch arrival

    stream = (
        spark.readStream.schema("experiment string, variant long, converted long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    q = to_memory_sink(streaming_ab_monitor(stream), "t_ab", "update")
    _drain(q)
    final = spark.sql(
        "SELECT * FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY experiment ORDER BY n_a + n_b DESC) AS rn"
        "  FROM t_ab) WHERE rn = 1"
    ).collect()[0]

    want = ab_test_two_proportion(units).collect()[0]
    assert (final.n_a, final.n_b, final.conv_a, final.conv_b) == (
        want.n_a, want.n_b, want.conv_a, want.conv_b,
    )
    assert (final.rate_a_ppm, final.rate_b_ppm) == (
        want.rate_a_ppm, want.rate_b_ppm,
    )
    assert final.z == want.z  # identical IEEE sequence, bit-equal
    assert final.significant == want.significant


def test_streaming_ab_monitor_degenerate_arm(spark, tmp_path):
    """Degenerate-arm parity (advisor r11): with a whole variant arm
    empty, the batch operator's CASE WHEN ABS(NULL) falls through to
    ELSE 0 — it emits z = NULL, significant = 0 — and the streaming
    twin's (None, 0) matches it exactly. Pins the advisor's claimed
    NULL-vs-0 divergence as a non-divergence in both engines."""
    from cosmos_xenna_spark.operators.stats import ab_test_two_proportion
    from cosmos_xenna_spark.streaming import streaming_ab_monitor

    units = spark.createDataFrame(
        [("exp1", 1, 1), ("exp1", 1, 0), ("exp1", 1, 1)],
        "experiment string, variant long, converted long",
    )
    want = ab_test_two_proportion(units).collect()[0]
    assert want.z is None and want.significant == 0

    d = str(tmp_path / "units_degenerate")
    units.repartition(2).write.parquet(d)
    stream = (
        spark.readStream.schema("experiment string, variant long, converted long")
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    q = to_memory_sink(streaming_ab_monitor(stream), "t_ab_deg", "update")
    _drain(q)
    final = spark.sql(
        "SELECT * FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY experiment ORDER BY n_a + n_b DESC) AS rn"
        "  FROM t_ab_deg) WHERE rn = 1"
    ).collect()[0]
    assert (final.n_a, final.n_b) == (0, 3)
    assert final.rate_a_ppm is None and final.z is None
    assert final.significant == 0 == want.significant


def test_streaming_sequential_ab_matches_batch(spark, sf_dir, tmp_path):
    """Group-sequential boundary twin: per-look counter addition is
    order-insensitive, so after a full replay (3 files -> cross-batch
    arrival) the final emitted K-row look table — cumulative counters,
    pooled z, OBF boundary, crossing and early-stop flags — equals the
    batch operator's bit-for-bit."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.stats import sequential_ab_looks
    from cosmos_xenna_spark.streaming import streaming_sequential_ab

    ev = load_table(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            F.when(F.min_by("event_type", "event_id") == "purchase", 1)
            .otherwise(0)
            .alias("converted"),
            F.min(F.expr("unix_micros(ts)")).cast("bigint").alias("ts_us"),
        )
        .select(
            F.lit("exp1").alias("experiment"),
            (md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2)
            .alias("variant"),
            "converted",
            "ts_us",
        )
        .localCheckpoint(eager=True)
    )
    lo, hi = units.agg(F.min("ts_us"), F.max("ts_us")).collect()[0]
    want = {
        r.look: r
        for r in sequential_ab_looks(units, int(lo), int(hi), k_looks=8).collect()
    }

    d = str(tmp_path / "seq_units")
    units.repartition(3).write.parquet(d)
    stream = (
        spark.readStream.schema(
            "experiment string, variant long, converted long, ts_us long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    q = to_memory_sink(
        streaming_sequential_ab(stream, int(lo), int(hi), k_looks=8),
        "t_seq",
        "update",
    )
    _drain(q)
    # Per (experiment, look), the LAST emission (largest cumulative
    # total) is the final state's readout.
    final = spark.sql(
        "SELECT * FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY look ORDER BY n_a + n_b DESC) AS rn"
        "  FROM t_seq) WHERE rn = 1"
    ).collect()
    got = {r.look: r for r in final}
    assert set(got) == set(want) and len(want) >= 2
    for k, w in want.items():
        g = got[k]
        assert (g.n_a, g.n_b, g.conv_a, g.conv_b) == (
            w.n_a, w.n_b, w.conv_a, w.conv_b,
        ), k
        assert g.z == w.z and g.boundary == w.boundary, k  # bit-equal
        assert (g.crossed, g.stopped) == (w.crossed, w.stopped), k


def test_streaming_grid_cells_matches_batch_hotspots(spark, sf_dir, events_dir):
    """O(1)-state spatial cell-count parity: the live per-cell counter's
    final emission equals the batch cell frame, and composing the
    bounded 3x3 batch finish on the streamed counts reproduces
    grid_hotspots exactly (the KMV/HLL sufficient-statistic split)."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.functions import md5_long63
    from cosmos_xenna_spark.operators.spatial import grid_hotspots
    from cosmos_xenna_spark.streaming import streaming_grid_cells

    CELL, BOX = 25_000, 1_000_000

    def derive(df):
        return df.select(
            F.col("event_id").alias("point_id"),
            (md5_long63(F.col("event_id").cast("string"), prefix="gx|") % BOX).alias("x"),
            (md5_long63(F.col("event_id").cast("string"), prefix="gy|") % BOX).alias("y"),
        )

    stream = derive(events_file_stream(spark, events_dir))
    q = to_memory_sink(streaming_grid_cells(stream, cell=CELL), "t_cells", "update")
    _drain(q)
    rows = spark.sql(
        "SELECT cell_x, cell_y, n FROM ("
        "  SELECT *, row_number() OVER ("
        "    PARTITION BY cell_x, cell_y ORDER BY n DESC) AS rn"
        "  FROM t_cells) WHERE rn = 1"
    ).collect()
    got_counts = sorted((r.cell_x, r.cell_y, r.n) for r in rows)

    pts = derive(load_table(spark, sf_dir, "events"))
    batch = grid_hotspots(pts, cell=CELL)
    want_counts = sorted(
        (r.cell_x, r.cell_y, r.n) for r in batch.collect()
    )
    assert got_counts == want_counts and len(got_counts) > 0

    # bounded finish composed on the STREAMED state == batch hotspots
    streamed_cells = spark.createDataFrame(
        [(a, b, n) for a, b, n in got_counts], "cx long, cy long, n long"
    )
    hood = (
        streamed_cells.selectExpr("cx", "cy", "n")
        .selectExpr(
            "cx", "cy", "n",
            "explode(array" + str(tuple(
                f"struct({dx} AS dx, {dy} AS dy)" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            )).replace("'", "") + ") AS o",
        )
        .selectExpr("cx + o.dx AS cx", "cy + o.dy AS cy", "n AS contrib")
        .groupBy("cx", "cy")
        .agg(F.sum("contrib").alias("hood_n"))
    )
    composed = (
        streamed_cells.join(hood, ["cx", "cy"])
        .selectExpr("cx", "cy", "n", "hood_n",
                    "CAST(1000000 * n DIV hood_n AS BIGINT) AS share_ppm")
    )
    got_h = sorted(tuple(r) for r in composed.collect())
    want_h = sorted(tuple(r) for r in batch.collect())
    assert got_h == want_h

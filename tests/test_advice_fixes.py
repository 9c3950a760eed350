"""Regression tests for round-1 and round-2 advisor findings.

Round 1:
- node-setup failure must not wedge waiters (failure marker + re-election)
- global_row_number must match nulls-first window semantics on NULL keys
- cluster_centroids must fail loudly on empty / ragged inputs

Round 2 (fixed in round 4):
- a node-setup holder that died mid-setup is replaced, not waited out
- a live re-electing holder suppresses a stale failure marker (TOCTOU)
- global_cumsum must not TypeError when a bucket sums to NULL
- PII counts match the sequential redaction (no counting inside spans an
  earlier pass already redacted)
- serving authkey travels as a 0600-file path, never a literal option
"""

from __future__ import annotations

import fcntl
import os
import signal
import subprocess
import sys
import tempfile
import time
import types
import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.quality import redact_pii
from cosmos_xenna_spark.operators.ranking import global_cumsum, global_row_number
from cosmos_xenna_spark.operators.similarity import cluster_centroids
from cosmos_xenna_spark.operators import stage as stage_mod
from cosmos_xenna_spark.operators.stage import Stage, _node_setup_once

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _FailingSetup(Stage):
    def setup_on_node(self) -> None:
        raise RuntimeError("boom: node setup failed")

    def process_data(self, batch):  # pragma: no cover - never called
        return batch


class _OkSetup(Stage):
    def setup_on_node(self) -> None:
        pass

    def process_data(self, batch):  # pragma: no cover - never called
        return batch


@pytest.fixture
def node_marker(tmp_path, monkeypatch):
    """A fresh run's node-setup marker path, with the system temp root
    pointed at this test's own directory."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return str(tmp_path / f"cxs_node_setup_{uuid.uuid4().hex}")


def _run_id(marker: str) -> str:
    return os.path.basename(marker)[len("cxs_node_setup_"):]


def _hold_lock(marker: str):
    """Take the election lock through a second open file, as another
    process would; closing the file releases it."""
    holder = open(marker + ".lock", "a")
    fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
    return holder


def _on_first_poll(monkeypatch, action) -> None:
    """Run ``action`` when the election first sleeps, i.e. once the
    caller has seen the lock held and is waiting for it."""
    done = []

    def sleep(s):
        if not done:
            done.append(action())
        time.sleep(s)

    monkeypatch.setattr(
        stage_mod, "time", types.SimpleNamespace(monotonic=time.monotonic, sleep=sleep)
    )


def test_node_setup_failure_records_marker_and_reelects(node_marker):
    marker, run_id = node_marker, _run_id(node_marker)
    with pytest.raises(RuntimeError, match="boom"):
        _node_setup_once(_FailingSetup(), run_id)
    # failure marker recorded, lock released, no done marker
    with open(marker + ".failed") as f:
        assert "boom" in f.read()
    _hold_lock(marker).close()
    assert not os.path.exists(marker)
    # a retried task re-runs setup and clears the failure record
    _node_setup_once(_OkSetup(), run_id)
    assert os.path.exists(marker)
    assert not os.path.exists(marker + ".failed")


def test_node_setup_waiter_sees_failure(node_marker, monkeypatch):
    """A process that lost the election must raise when the elected
    process recorded a failure, not spin forever."""
    marker, run_id = node_marker, _run_id(node_marker)
    holder = _hold_lock(marker)
    with open(marker + ".failed", "w") as f:
        f.write("RuntimeError('boom')")
    # the holder finishes (lock released) while the waiter polls
    _on_first_poll(monkeypatch, holder.close)
    with pytest.raises(RuntimeError, match="setup_on_node failed"):
        _node_setup_once(_OkSetup(), run_id)
    assert holder.closed  # it really waited for the holder
    assert not os.path.exists(marker)


def test_global_row_number_null_keys_rank_first(spark):
    rows = [(None, 1), (5.0, 2), (None, 3), (1.0, 4), (3.0, 5)]
    df = spark.createDataFrame(rows, "key double, id long")
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, ["key", "id"], num_buckets=2).collect()
    }
    w = Window.orderBy(F.asc("key"), F.asc("id"))  # Spark: nulls first
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


_HOLD_LOCK_SCRIPT = """
import fcntl, sys, time
f = open(sys.argv[1], "a")
fcntl.flock(f, fcntl.LOCK_EX)
print("held", flush=True)
time.sleep(600)
"""


def test_node_setup_stale_lock_is_stolen(node_marker, monkeypatch):
    """Holder died between taking the lock and writing any marker: the
    waiter must take over and run setup itself instead of burning the
    whole timeout."""
    marker, run_id = node_marker, _run_id(node_marker)
    holder = subprocess.Popen(
        [sys.executable, "-c", _HOLD_LOCK_SCRIPT, marker + ".lock"],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline() == "held\n"

        def kill_holder():
            holder.kill()
            holder.wait(timeout=30)

        _on_first_poll(monkeypatch, kill_holder)
        monkeypatch.setattr(stage_mod, "_NODE_SETUP_WAIT_S", 60.0)
        _node_setup_once(_OkSetup(), run_id)  # must not TimeoutError
    finally:
        holder.kill()
        holder.wait(timeout=30)
        holder.stdout.close()
    assert holder.returncode == -signal.SIGKILL
    assert os.path.exists(marker)


def test_node_setup_live_holder_suppresses_stale_failure(node_marker, monkeypatch):
    """failure marker + lock held by a LIVE process = re-election in
    progress; the waiter must keep waiting (here: until the shortened
    timeout) instead of raising the stale failure (TOCTOU)."""
    marker, run_id = node_marker, _run_id(node_marker)
    holder = _hold_lock(marker)
    with open(marker + ".failed", "w") as f:
        f.write("RuntimeError('stale')")
    monkeypatch.setattr(stage_mod, "_NODE_SETUP_WAIT_S", 0.3)
    try:
        with pytest.raises(TimeoutError):
            _node_setup_once(_OkSetup(), run_id)
    finally:
        holder.close()
    assert os.path.exists(marker + ".failed")  # left for the holder


_RACE_SCRIPT = """
import os, sys, time

from cosmos_xenna_spark.operators.stage import Stage, _node_setup_once

run_id, log, go = sys.argv[1:4]


class Slow(Stage):
    def setup_on_node(self):
        with open(log, "a") as f:
            f.write(f"start {os.getpid()}\\n")
        while not os.path.exists(go):
            time.sleep(0.01)
        with open(log, "a") as f:
            f.write("done\\n")

    def process_data(self, batch):
        return batch


_node_setup_once(Slow(), run_id)
"""


def test_node_setup_survives_sigkilled_holder_race(tmp_path):
    """Five processes race for one host's election and the winner is
    SIGKILLed inside setup_on_node: the kernel releases its lock, one
    waiter re-runs setup to completion, and every survivor returns."""
    run_id = uuid.uuid4().hex
    log, go = tmp_path / "setup.log", tmp_path / "go"
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACE_SCRIPT, run_id, str(log), str(go)],
            cwd=_REPO,
            env={**os.environ, "TMPDIR": str(tmp_path)},
        )
        for _ in range(5)
    ]
    try:
        deadline = time.monotonic() + 120
        while not (log.exists() and log.read_text().endswith("\n")):
            assert time.monotonic() < deadline, "no process started setup"
            time.sleep(0.01)
        first = int(log.read_text().split()[1])
        os.kill(first, signal.SIGKILL)
        go.touch()
        codes = {p.pid: p.wait(timeout=120) for p in procs}
    finally:
        for p in procs:
            p.kill()
            p.wait(timeout=30)
    assert codes.pop(first) == -signal.SIGKILL
    assert list(codes.values()) == [0] * 4
    lines = log.read_text().splitlines()
    assert [ln.split()[0] for ln in lines] == ["start", "start", "done"]
    assert int(lines[1].split()[1]) != first
    assert (tmp_path / f"cxs_node_setup_{run_id}").exists()


def test_global_cumsum_null_values_no_typeerror(spark):
    """An all-NULL bucket sums to NULL; the driver-side offset
    accumulation must coalesce it to 0, and NULL values contribute 0
    to the running sum (SQL SUM semantics)."""
    rows = [(1.0, 1, None), (2.0, 2, None), (3.0, 3, 10), (4.0, 4, 20)]
    df = spark.createDataFrame(rows, "key double, id long, val long")
    got = {
        r["id"]: r["cs"]
        for r in global_cumsum(df, "val", ["key", "id"], out_col="cs",
                               num_buckets=2).collect()
    }
    w = (
        Window.orderBy("key", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["cs"]
        for r in df.withColumn("cs", F.sum("val").over(w)).collect()
    }
    assert got == want


def test_pii_counts_match_sequential_redaction(spark):
    """Digits consumed by the email pass must not be counted as
    IPs/phones: counts equal the replacements each pass makes."""
    rows = [
        (1, "mail user@1.2.3.4.com now"),       # IP-lookalike inside email
        (2, "call 555-123-4567@host.org ok"),   # phone-lookalike inside email
        (3, "ip 10.0.0.1 and phone 555-123-4567"),  # genuine standalone hits
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (1, 0, 0)
    assert got[1]["text"] == "mail <EMAIL> now"
    assert (got[2]["n_emails"], got[2]["n_ips"], got[2]["n_phones"]) == (1, 0, 0)
    assert got[2]["text"] == "call <EMAIL> ok"
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_phones"]) == (0, 1, 1)
    assert got[3]["text"] == "ip <IP> and phone <PHONE>"


def test_serving_authkey_not_in_options():
    from cosmos_xenna_spark.streaming.serving_source import ServingQueueServer

    server = ServingQueueServer()
    try:
        opts = server.options("req")
        assert "authkey" not in opts
        path = opts["authkey_file"]
        assert os.stat(path).st_mode & 0o077 == 0  # owner-only
        with open(path) as f:
            assert bytes.fromhex(f.read().strip()) == server.authkey
    finally:
        server.shutdown()
    assert not os.path.exists(path)  # key file removed on shutdown


def test_cluster_centroids_empty_raises(spark):
    empty = spark.createDataFrame([], "vec_id long, label int, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        cluster_centroids(empty)


def test_cluster_centroids_ragged_raises(spark):
    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (2, 0, [1.0, 2.0, 3.0])],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ragged"):
        cluster_centroids(df)


def test_bm25_quote_and_regex_terms_score_zero(spark):
    """Caller-supplied terms must pass as literals: a quote or regex
    metacharacter scores 0 instead of breaking the SQL/regex."""
    from cosmos_xenna_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta delta")],
        "doc_id long, text string",
    )
    got = bm25_topk(docs, ["beta", "o'brien", ".*"], k=5).collect()
    assert [r.doc_id for r in got] == [2, 1]  # doc 2 has beta twice
    clean = bm25_topk(docs, ["beta"], k=5).collect()
    assert [(r.doc_id, r.score) for r in got] == [
        (r.doc_id, r.score) for r in clean
    ]  # the malformed terms contributed exactly nothing


def test_bm25_empty_query_returns_empty(spark):
    from cosmos_xenna_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    out = bm25_topk(docs, [], k=5)
    assert out.columns == ["doc_id", "score"]
    assert out.count() == 0


def test_events_stream_empty_dir_starts(spark, tmp_path):
    """Starting the stream BEFORE any file arrives must work (known-DDL
    fallback), and rows written later must flow through."""
    from cosmos_xenna_spark.streaming import events_file_stream

    events_dir = str(tmp_path / "events")
    os.makedirs(events_dir)
    stream = events_file_stream(spark, events_dir)
    assert "ts" in stream.columns
    q = (
        stream.writeStream.format("memory")
        .queryName("empty_dir_start")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT * FROM empty_dir_start").count() == 0

    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props",
    ).write.mode("append").parquet(events_dir)
    q2 = (
        events_file_stream(spark, events_dir)
        .writeStream.format("memory")
        .queryName("empty_dir_catchup")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    assert spark.sql("SELECT * FROM empty_dir_catchup").count() == 1


def test_global_ranking_many_buckets_flat_expressions(spark):
    """num_buckets in the thousands must not blow the analyzer (the
    WHEN-chain regression); results must still be exact."""
    from cosmos_xenna_spark.operators.ranking import global_running_max

    rows = [(float(i % 97), i, (i * 37) % 1000) for i in range(500)]
    df = spark.createDataFrame(rows, "k double, tb long, v long")
    got = global_running_max(df, "v", ["k", "tb"], num_buckets=64).collect()
    ordered = sorted(got, key=lambda r: (r.k, r.tb))
    best = None
    for r in ordered:
        best = r.v if best is None or r.v > best else best
        assert r.runmax == best


# ---------------------------------------------------------------------------
# Round 5 advisor findings (fixed in round 6)
# - ks_two_sample: groups present in only one slice must emit D=1.0, not NULL
# - heavy_hitters_sketch: candidates join via broadcast semi-join, never a
#   driver-side Column.isin literal list
# - decode_bmp: 8-bit pixels map through the BGRA palette, not raw gray
# - scoped_persist: rescope() keeps the cache alive across derived frames
# ---------------------------------------------------------------------------


def test_ks_one_sided_group_is_d1(spark, duck):
    """A group present in only one slice has D = 1 (empty-slice ECDF is 0),
    not NULL from the zero denominator — in BOTH engines."""
    from cosmos_xenna_spark.operators.stats import ks_two_sample, ks_two_sample_sql

    a = spark.createDataFrame([("x", 1.0), ("x", 2.0), ("only_a", 5.0)], "g string, v double")
    b = spark.createDataFrame([("x", 1.5), ("only_b", 9.0)], "g string, v double")
    got = {r.g: r for r in ks_two_sample(a, b, ["g"], "v").collect()}
    assert got["only_a"].ks_d == 1.0
    assert got["only_b"].ks_d == 1.0
    assert 0.0 < got["x"].ks_d <= 1.0
    sql = ks_two_sample_sql(
        "SELECT * FROM (VALUES ('x', 1.0), ('x', 2.0), ('only_a', 5.0)) t(g, v)",
        "SELECT * FROM (VALUES ('x', 1.5), ('only_b', 9.0)) t(g, v)",
        ["g"],
        "v",
    )
    oracle = {r[0]: r[1] for r in duck.execute(sql).fetchall()}
    assert oracle["only_a"] == 1.0
    assert oracle["only_b"] == 1.0


def test_heavy_hitters_sketch_uses_broadcast_semi_join(spark):
    """The exact-verify phase must not embed candidates as an In-literal
    (plan bloat at web scale); it must match the exact operator bit-for-bit."""
    from cosmos_xenna_spark.operators.curation import heavy_hitters, heavy_hitters_sketch

    rows = [(("common " * 20 + f"rare{i}").strip(),) for i in range(40)]
    df = spark.createDataFrame(rows, "text string")
    sketch = heavy_hitters_sketch(df, "text", min_ppm=100_000)
    plan = sketch._jdf.queryExecution().executedPlan().toString()
    assert " IN (" not in plan and "isin" not in plan
    assert "LeftSemi" in plan
    exact = {(r.word, r.n) for r in heavy_hitters(df, "text", min_ppm=100_000).collect()}
    got = {(r.word, r.n) for r in sketch.collect()}
    assert got == exact and ("common", 800) in got


def _bmp8(width, height, palette, indices):
    """Minimal 8-bit uncompressed BMP: file header + BITMAPINFOHEADER +
    256-entry BGRA palette + bottom-up padded pixel rows."""
    import struct

    row_bytes = (width + 3) & ~3
    pal = bytearray()
    for i in range(256):
        b, g, r = palette(i)
        pal += bytes((b, g, r, 0))
    pixel_offset = 14 + 40 + 256 * 4
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytes(indices[y * width : (y + 1) * width])
        body += row + b"\x00" * (row_bytes - width)
    size = pixel_offset + len(body)
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_offset)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(body), 2835, 2835, 256, 0)
    return bytes(hdr + info + pal + body)


def test_decode_bmp_8bit_maps_palette(spark):
    """8-bit BMP pixels are palette indices: a non-identity palette must
    decode through the BGRA table (luma-reduced), not as raw gray bytes."""
    from cosmos_xenna_spark.operators.multimodal import decode_bmp

    # inverted grayscale ramp: index i -> gray 255-i
    payload = _bmp8(3, 2, lambda i: (255 - i,) * 3, [0, 10, 255, 1, 2, 3])
    w, h, pixels = decode_bmp(payload)
    assert (w, h) == (3, 2)
    assert list(pixels) == [255, 245, 0, 254, 253, 252]
    # color palette: index i -> pure red of intensity i  => luma 299*i//1000
    payload = _bmp8(2, 1, lambda i: (0, 0, i), [100, 200])
    _, _, pixels = decode_bmp(payload)
    assert list(pixels) == [299 * 100 // 1000, 299 * 200 // 1000]


def test_rescope_moves_release_to_derived_frame(spark):
    """Deriving from a scoped_persist result and dropping the original must
    NOT unpersist the scratch frame (the q_incremental_agg lifetime bug)."""
    import gc

    from pyspark import StorageLevel

    from cosmos_xenna_spark.operators.cache import rescope, scoped_persist

    scratch = spark.range(100).withColumnRenamed("id", "k")
    result = scoped_persist(scratch, scratch.filter("k % 2 = 0"))
    derived = rescope(result, result.selectExpr("k * 2 AS k2"))
    del result
    gc.collect()
    assert scratch.storageLevel != StorageLevel.NONE  # still cached
    assert derived.count() == 50
    del derived
    gc.collect()
    assert scratch.storageLevel == StorageLevel.NONE  # released with derived


def test_incremental_agg_keeps_delta_persisted(spark, sf_dir, duck):
    """The registered query path must execute with the delta persist alive
    (regression: the handle died at plan-build time) and stay oracle-green."""
    from cosmos_xenna_spark.oracle import compare
    from cosmos_xenna_spark.queries import load_registry

    spec = load_registry()["q_incremental_agg"]
    df = spec.builder(spark, sf_dir)
    assert df.__dict__.get("_scoped_releases"), "release hooks must ride the result frame"
    res = compare("q_incremental_agg", df, spec.oracle, duck)
    assert res.ok


def test_link_prediction_excludes_noncanonical_edges(spark, duck):
    """A triangle stored in NON-canonical orientation must produce zero
    link predictions — anti-joining the raw edge orientation reported a
    graph's own edges as missing links (r8 advisor finding)."""
    from cosmos_xenna_spark.operators.graph import (
        resource_allocation_link_prediction,
        resource_allocation_sql,
    )

    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (3, 2)], "src long, dst long"
    )
    assert resource_allocation_link_prediction(edges).count() == 0
    sql = resource_allocation_sql(
        "SELECT * FROM (VALUES (2, 1), (3, 1), (3, 2)) AS t(src, dst)"
    )
    assert duck.execute(sql).fetchall() == []
    # a genuinely missing link still surfaces: path 1-2-4 predicts (1, 4)
    edges2 = spark.createDataFrame(
        [(2, 1), (4, 2)], "src long, dst long"
    )
    got = {
        (r.node_a, r.node_b)
        for r in resource_allocation_link_prediction(edges2).collect()
    }
    assert got == {(1, 4)}


def test_modularity_empty_graph_empty_both_engines(spark, duck):
    """An empty edge list must yield an EMPTY result in both engines —
    previously Spark emitted a NULL q_ppm row while DuckDB raised
    division-by-zero (r8 advisor finding)."""
    from cosmos_xenna_spark.operators.graph import modularity, modularity_sql

    edges = spark.createDataFrame([], "src long, dst long")
    labels = spark.createDataFrame([(1, 1)], "node long, label long")
    assert modularity(edges, labels).count() == 0
    sql = modularity_sql(
        "SELECT src, dst FROM (VALUES (1, 2)) AS t(src, dst) WHERE FALSE",
        "SELECT * FROM (VALUES (1, 1)) AS l(node, label)",
    )
    assert duck.execute(sql).fetchall() == []


def test_fellegi_sunter_unresolved_pairs_visible(spark, duck):
    """A pair whose id is absent from the record frame must surface as
    decision='unresolved' with NULL score, not silently vanish from the
    output (r8 advisor finding) — in BOTH engines."""
    from cosmos_xenna_spark.operators.dedup import (
        fellegi_sunter_scores,
        fellegi_sunter_scores_sql,
    )

    recs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de")], "rid long, lang string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 99)], "id_a long, id_b long"
    )
    rules = [("lang", 10, -4)]
    got = {
        (r.id_a, r.id_b): (r.fs_score, r.decision)
        for r in fellegi_sunter_scores(
            pairs, recs, "rid", rules, t_match=10, t_possible=0
        ).collect()
    }
    assert got == {
        (1, 2): (10, "match"),
        (1, 3): (-4, "non_match"),
        (2, 99): (None, "unresolved"),
    }
    sql = fellegi_sunter_scores_sql(
        "SELECT * FROM (VALUES (1, 2), (1, 3), (2, 99)) AS p(id_a, id_b)",
        "SELECT * FROM (VALUES (1, 'en'), (2, 'en'), (3, 'de')) AS r(rid, lang)",
        "rid",
        rules,
        t_match=10,
        t_possible=0,
    )
    assert {
        (a, b): (s, d) for a, b, s, d in duck.execute(sql).fetchall()
    } == got


def test_scc_labels_without_pinned_thread_mode():
    """ADVICE r12: with PYSPARK_PIN_THREAD=false, pyspark's non-pinned
    branch makes inheritable_thread_target(session) return the session
    itself, and scc_labels' two-thread sweep raised
    "'SparkSession' object is not callable". The callable() guard must
    keep the sweep working (and correct) in non-pinned mode."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {here!r})
from cosmos_xenna_spark.session import get_spark
spark = get_spark(
    app_name="scc_nonpinned", master="local[2]", shuffle_partitions=2
)
from cosmos_xenna_spark.operators.graph import scc_labels
edges = spark.createDataFrame(
    [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
)
rows = {{(r["node"], r["scc_id"]) for r in scc_labels(edges, n_hops=3).collect()}}
assert rows == {{(1, 1), (2, 1), (3, 1), (4, 4)}}, rows
spark.stop()
print("OK_NONPINNED")
"""
    env = dict(os.environ, PYSPARK_PIN_THREAD="false")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "OK_NONPINNED" in proc.stdout, proc.stdout + proc.stderr

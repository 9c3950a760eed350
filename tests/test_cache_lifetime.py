"""Operator-internal caches must not outlive their result handles.

Round-4 → round-5 bench forensics: the Jaccard operators persisted
their word sets and never released them, so every query that ran after
them in a long-lived session measured 3-5x slower (dead blocks evicting
live working sets). These tests pin the fix: once the caller drops the
result DataFrame, the executors' block manager returns to its prior
state.
"""

from __future__ import annotations

import gc
import threading

from pyspark import inheritable_thread_target
from pyspark.sql import Row
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.bpe import bpe_train
from cosmos_xenna_spark.operators.cache import _checkpoint_rdd, fixpoint
from cosmos_xenna_spark.operators.dedup import (
    connected_components,
    jaccard_verify_pairs,
    ngram_jaccard_pairs,
)
from cosmos_xenna_spark.operators.graph import sssp_weighted
from cosmos_xenna_spark.operators.substring import IncrementalSubstringDedup


def _ids(spark) -> set[int]:
    """Ids of currently-pinned RDD blocks. Tracking ids (not a global
    count) keeps the tests immune to the JVM ContextCleaner
    asynchronously collecting blocks left over from OTHER tests."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _released(spark, ids: set[int], rounds: int = 10) -> bool:
    """GC until none of ``ids`` is pinned anymore (finalizers may be
    pending)."""
    for _ in range(rounds):
        if not (_ids(spark) & ids):
            return True
        gc.collect()
    return not (_ids(spark) & ids)


DOCS = [
    Row(doc_id=i, source="s", text=" ".join(f"w{i}x{j}" for j in range(30)))
    for i in range(8)
]


def test_jaccard_verify_pairs_needs_no_cache(spark):
    """The array-intersect verify is shuffle-free on the corpus side and
    must not pin any cache blocks (the persist was the old exploded-word
    form's crutch)."""
    base = _ids(spark)
    docs = spark.createDataFrame(DOCS)
    pairs = spark.createDataFrame([Row(doc_a=0, doc_b=1), Row(doc_a=2, doc_b=3)])
    out = jaccard_verify_pairs(pairs, docs, threshold=0.0)
    assert out.count() == 2
    assert not (_ids(spark) - base), "no scratch cache expected"


def test_ngram_jaccard_pairs_releases_scratch_on_gc(spark):
    base = _ids(spark)
    docs = spark.createDataFrame(DOCS)
    out = ngram_jaccard_pairs(docs, scope_col="source", threshold=0.0)
    out.collect()
    new = _ids(spark) - base
    assert new
    out = None
    assert _released(spark, new)


def test_scratch_survives_while_handle_is_held(spark):
    """Two actions on the same handle both see the cache — the release
    must not fire early."""
    base = _ids(spark)
    docs = spark.createDataFrame(DOCS)
    out = ngram_jaccard_pairs(docs, scope_col="source", threshold=0.0)
    first = out.count()
    gc.collect()  # any wrongly-scoped finalizer would fire here
    second = out.count()
    assert first == second
    new = _ids(spark) - base
    assert new, "cache must survive a GC while the handle is held"
    out = None
    assert _released(spark, new)


def test_connected_components_releases_iteration_checkpoints(spark):
    base = _ids(spark)
    # A 16-chain plus a clique: multiple pointer-jumping rounds, so
    # several per-iteration checkpoints are created and must die.
    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(16)]
        + [Row(doc_a=100 + i, doc_b=100 + j) for i in range(4) for j in range(i + 1, 4)]
    )
    out = connected_components(pairs, max_iter=15)
    rows = {r.doc_id: r.cluster_id for r in out.collect()}
    assert rows[16] == 0 and rows[103] == 100
    # Only the FINAL label checkpoint may remain pinned — superseded
    # iteration state and the edge table must have been released
    # eagerly. The final one is deliberately left to the JVM's
    # ContextCleaner: derived frames may still plan against it.
    held = _ids(spark) - base
    assert len(held) <= 1, f"per-iteration checkpoints leaked: {len(held)} blocks"


def test_connected_components_derived_frames_survive_handle_gc(spark):
    """Frames DERIVED from the result must stay executable after the
    original handle is garbage-collected — the final checkpoint must
    NOT be released on a Python-lifetime signal (the composed
    fuzzy_dedup_keep pipeline hit exactly this)."""
    pairs = spark.createDataFrame([Row(doc_a=i, doc_b=i + 1) for i in range(8)])
    out = connected_components(pairs, max_iter=10)
    derived = out.filter("cluster_id = 0").select("doc_id")
    out = None
    gc.collect()  # would fire any (wrong) finalizer tied to `out`
    assert derived.count() == 9


def _chain_and_clique(spark):
    """A 16-chain plus a 4-clique: several pointer-jumping rounds."""
    return spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(16)]
        + [Row(doc_a=100 + i, doc_b=100 + j) for i in range(4) for j in range(i + 1, 4)]
    )


_CHAIN_AND_CLIQUE = {**{i: 0 for i in range(17)}, **{100 + i: 100 for i in range(4)}}


def _clusters(df) -> dict[int, int]:
    return {r.doc_id: r.cluster_id for r in df.collect()}


def test_connected_components_runs_one_job_per_round(spark, job_meter):
    """The stop signal rides each round's checkpoint job: one job for the
    edge table and one per label round, no per-round witness job."""
    pairs = _chain_and_clique(spark)
    out, jobs, taken = job_meter(lambda: connected_components(pairs, max_iter=15))
    assert 2 < len(taken) < 15, "expected several rounds and an early exit"
    assert jobs == len(taken)
    assert _clusters(out) == _CHAIN_AND_CLIQUE


def test_connected_components_early_exit_matches_full_rounds(spark, job_meter):
    """Stopping at the first repeated label sum returns the rows of a run
    whose ``max_iter`` leaves no round to spare (so it never exits early)."""
    pairs = _chain_and_clique(spark)
    early, _, taken = job_meter(lambda: connected_components(pairs, max_iter=40))
    # the edge table, then rounds 1..r; round r repeats round r - 1
    rounds = len(taken) - 1
    full, _, full_taken = job_meter(
        lambda: connected_components(pairs, max_iter=rounds - 1)
    )
    # rounds 1..r-2 checkpointed, round r-1 returned lazily
    assert len(full_taken) == 1 + rounds - 2
    assert _clusters(early) == _clusters(full) == _CHAIN_AND_CLIQUE


def test_sssp_weighted_early_exit_matches_full_sweeps(spark, job_meter):
    """Stopping at the first repeated (count, cost sum) returns the rows of
    a run whose ``n_sweeps`` leaves no sweep to spare. The graph is a
    1-weight chain 0 -> ... -> 6 with shortcuts 0 -> 5 (50) and 0 -> 6
    (100): every node is reached after 4 sweeps, then the costs of 5 and
    6 fall in sweeps 5 and 6, so a row count alone would stop too early."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(6)] + [(0, 5, 50), (0, 6, 100)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")

    def dist(df):
        return {r.node: r.cost for r in df.collect()}

    early, _, taken = job_meter(lambda: sssp_weighted(edges, seeds, n_sweeps=20))
    full, _, full_taken = job_meter(lambda: sssp_weighted(edges, seeds, n_sweeps=6))
    # the edge table, then the tables after sweeps 0..7; 7 repeats 6
    assert len(taken) == 1 + 8
    # the edge table, then sweeps 0..5 checkpointed; sweep 6 returned lazily
    assert len(full_taken) == 1 + 6
    assert dist(early) == dist(full) == {i: i for i in range(7)}


def test_bpe_train_releases_its_checkpoints(spark):
    """bpe_train returns a list, so no symbol-table checkpoint it made,
    the initial one included, may stay pinned."""
    base = _ids(spark)
    docs = spark.createDataFrame(
        [(0, "low low low low low lower lower"), (1, "newest newest newest widest widest")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=12, min_pair_count=2)
    assert len(merges) >= 8  # at least two checkpoints after the initial one
    assert not (_ids(spark) - base), "bpe_train left checkpoints pinned"


def test_incremental_substring_dedup_pins_only_index_and_reports(spark):
    """Each batch supersedes the index and its own gram table; after three
    batches only the live index and the three returned reports may stay
    pinned."""
    base = _ids(spark)
    text = "the quick brown fox jumps over the lazy dog "
    state = IncrementalSubstringDedup(
        spark.createDataFrame([(0, text * 3)], "doc_id long, text string"), k=8
    )
    reports = [
        state.process_batch(
            spark.createDataFrame([(b, f"{b} {text}{b}")], "doc_id long, text string")
        )
        for b in (1, 2, 3)
    ]
    assert [r.first().n_spans for r in reports] == [1, 1, 1]
    live = {_checkpoint_rdd(df).id() for df in (state._index, *reports)}
    assert _ids(spark) - base == live


def _grow(limit: int):
    """A grow-only toy step: ``{0..i}`` becomes ``{0..min(i + 1, limit - 1)}``,
    so from ``{0}`` the state stops changing after ``limit - 1`` steps."""

    def step(s):
        nxt = s.select((F.col("id") + 1).alias("id")).filter(F.col("id") < limit)
        return s.union(nxt).distinct()

    return step


def _rows(df) -> list[int]:
    return sorted(r.id for r in df.collect())


def test_fixpoint_count_rides_the_checkpoint_job(spark, job_meter):
    """One Spark job per checkpointed step: the row count behind the
    early exit comes from the checkpoint action, not a count() job."""
    out, jobs, taken = job_meter(
        lambda: fixpoint(spark.range(1), _grow(4), 10, F.count(F.lit(1)))
    )
    # {0} {0,1} {0,1,2} {0..3} {0..3}: the fifth count repeats the fourth
    assert len(taken) == 5
    assert jobs == len(taken)
    assert _rows(out) == [0, 1, 2, 3]


def test_fixpoint_early_exit_matches_full_run(spark, job_meter):
    early, _, early_ckpts = job_meter(
        lambda: fixpoint(spark.range(1), _grow(4), 10, F.count(F.lit(1)))
    )
    full, _, full_ckpts = job_meter(
        lambda: fixpoint(spark.range(1), _grow(4), 10)
    )
    assert len(early_ckpts) == 5  # stops at the first repeated count
    assert len(full_ckpts) == 10  # one checkpoint before each step
    assert _rows(early) == _rows(full) == [0, 1, 2, 3]


def test_fixpoint_releases_superseded_checkpoints(spark, job_meter):
    out, _, taken = job_meter(
        lambda: fixpoint(spark.range(1), _grow(6), 4)
    )
    ids = [_checkpoint_rdd(df).id() for df in taken]
    pinned = _ids(spark)
    assert not (pinned & set(ids[:-1])), "superseded checkpoints still pinned"
    assert ids[-1] in pinned, "the lazy result plans against the final checkpoint"
    # the caller drops every handle but the result; it must still run
    del taken
    gc.collect()
    assert _rows(out) == [0, 1, 2, 3, 4]


def test_fixpoint_on_two_threads_matches_sequential(spark):
    def run(limit):
        return _rows(fixpoint(spark.range(1), _grow(limit), 8, F.count(F.lit(1))))

    sequential = {3: run(3), 5: run(5)}
    threaded: dict[int, list[int]] = {}

    def target(limit):
        threaded[limit] = run(limit)

    threads = [
        threading.Thread(target=inheritable_thread_target(spark)(target), args=(limit,))
        for limit in (3, 5)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert threaded == sequential == {3: [0, 1, 2], 5: [0, 1, 2, 3, 4]}

"""Behavioral tests for fixed-point PageRank: known closed forms on
tiny graphs, mass conservation, and partitioning invariance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.graph import ONE, k_core, pagerank_fixed, scc_labels


def _ranks(df):
    return {r["node"]: r["rank_fp"] for r in df.collect()}


def test_cycle_is_uniform(spark):
    """On a directed cycle every node keeps exactly 1/N forever."""
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src int, dst int")
    r = _ranks(pagerank_fixed(e, n_iter=4))
    assert len(set(r.values())) == 1
    assert next(iter(r.values())) == pytest.approx(ONE // 3, abs=5)


def test_star_center_dominates(spark):
    e = spark.createDataFrame([(i, 99) for i in range(1, 6)], "src int, dst int")
    r = _ranks(pagerank_fixed(e, n_iter=3))
    leaves = [v for k, v in r.items() if k != 99]
    assert all(r[99] > 3 * v for v in leaves)
    assert len(set(leaves)) == 1  # symmetric leaves rank equally


def test_mass_bounded(spark):
    e = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if (a + b) % 3 == 1 and a != b],
        "src int, dst int",
    )
    total = sum(_ranks(pagerank_fixed(e, n_iter=3)).values())
    # dangling leakage and integer floors only ever LOSE mass
    assert 0 < total <= ONE


def test_partitioning_invariance(spark):
    e = spark.createDataFrame(
        [(i % 17, (i * 7 + 3) % 17) for i in range(120)], "src int, dst int"
    ).filter("src <> dst")
    a = _ranks(pagerank_fixed(e, n_iter=3))
    b = _ranks(pagerank_fixed(e.repartition(11), n_iter=3))
    assert a == b  # bit-exact, not approximately equal


def test_rejects_bad_damping(spark):
    e = spark.createDataFrame([(0, 1)], "src int, dst int")
    with pytest.raises(ValueError):
        pagerank_fixed(e, damping_pct=0)
    with pytest.raises(ValueError):
        pagerank_fixed(e, damping_pct=100)


class TestTriangleCount:
    def _count(self, spark, edges):
        from cosmos_xenna_spark.operators.graph import triangle_count

        df = spark.createDataFrame(edges, "src int, dst int")
        return triangle_count(df).collect()[0]["n_triangles"]

    def test_single_triangle(self, spark):
        assert self._count(spark, [(0, 1), (1, 2), (2, 0)]) == 1

    def test_k4_has_four(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        assert self._count(spark, k4) == 4

    def test_tree_and_star_have_none(self, spark):
        assert self._count(spark, [(0, 1), (1, 2), (2, 3)]) == 0
        assert self._count(spark, [(9, i) for i in range(5)]) == 0

    def test_duplicate_and_reversed_edges_collapse(self, spark):
        e = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2), (0, 1)]
        assert self._count(spark, e) == 1

    def test_partitioning_invariance(self, spark):
        from cosmos_xenna_spark.operators.graph import triangle_count

        edges = [
            (a, b) for a in range(10) for b in range(10)
            if a < b and (a * 7 + b * 13) % 3 != 0
        ]
        df = spark.createDataFrame(edges, "src int, dst int")
        a = triangle_count(df).collect()[0]["n_triangles"]
        b = triangle_count(df.repartition(7)).collect()[0]["n_triangles"]
        assert a == b > 0


def test_weighted_pagerank_follows_weights(spark):
    """0 sends 99% of its mass to 1 and 1% to 2: with weights, node 1
    must out-rank node 2; unweighted they tie."""
    e = spark.createDataFrame([(0, 1, 99), (0, 2, 1)], "src int, dst int, w int")
    w = {r["node"]: r["rank_fp"] for r in pagerank_fixed(e, n_iter=2, weight_col="w").collect()}
    u = {r["node"]: r["rank_fp"] for r in pagerank_fixed(e, n_iter=2).collect()}
    assert w[1] > 1.5 * w[2]
    assert u[1] == u[2]


def test_weighted_pagerank_duplicate_edges_sum(spark):
    a = spark.createDataFrame([(0, 1, 2), (0, 1, 3), (0, 2, 5)], "src int, dst int, w int")
    b = spark.createDataFrame([(0, 1, 5), (0, 2, 5)], "src int, dst int, w int")
    ra = sorted(map(tuple, pagerank_fixed(a, n_iter=2, weight_col="w").collect()))
    rb = sorted(map(tuple, pagerank_fixed(b, n_iter=2, weight_col="w").collect()))
    assert ra == rb


def test_label_propagation_two_cliques(spark):
    """Two cliques joined by one bridge edge: after 2 sweeps every node
    carries its clique's minimum id (closed-form communities)."""
    from cosmos_xenna_spark.operators.graph import label_propagation

    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges += [(3, 10)]  # bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, n_iter=2).collect()}
    assert all(got[n] == 0 for n in range(4))
    assert all(got[n] == 10 for n in range(11, 14))


def test_label_propagation_partitioning_invariant(spark):
    from cosmos_xenna_spark.operators.graph import label_propagation

    rows = [((i * 17) % 40, (i * 23) % 40) for i in range(120)]
    df = spark.createDataFrame([r for r in rows if r[0] != r[1]], "src long, dst long")
    a = sorted(map(tuple, label_propagation(df.repartition(1), n_iter=2).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(32), n_iter=2).collect()))
    assert a == b


def test_k_core_matches_python_peel(spark):
    import random

    rng = random.Random(11)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(120)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")

    from cosmos_xenna_spark.operators.graph import k_core

    got = {r.node: r.degree for r in k_core(df, k=3, n_sweeps=12).collect()}

    # python fixpoint peel (12 sweeps is >= convergence on 40 nodes)
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < 3}
        if not drop:
            break
        alive -= drop
    want = {n: len(adj[n] & alive) for n in alive}
    assert got == want


def test_k_core_fixed_sweeps_deterministic(spark):
    """Partitioning must not change the fixed-sweep result."""
    from cosmos_xenna_spark.operators.graph import k_core

    edges = [(i, i + 1) for i in range(30)] + [(0, 2), (1, 3), (5, 7), (6, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, k_core(df.repartition(1), 2, n_sweeps=3).collect()))
    b = sorted(map(tuple, k_core(df.repartition(13, "src"), 2, n_sweeps=3).collect()))
    assert a == b


@pytest.mark.parametrize(
    "kernel, want",
    [
        (
            lambda df: scc_labels(df, n_hops=6),
            [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 6)],
        ),
        (lambda df: k_core(df, k=2, n_sweeps=6), [(1, 2), (2, 2), (3, 2)]),
    ],
    ids=["scc_labels", "k_core"],
)
def test_frontier_loop_runs_no_count_jobs(spark, job_meter, kernel, want):
    """The early fixed-point exit reads its row count off the checkpoint
    job: a frontier kernel runs one job per checkpoint plus the final
    action, and no separate count() jobs."""
    # a 3-cycle with a tail: one SCC, and a triangle with a pendant chain
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows, jobs, taken = job_meter(lambda: sorted(map(tuple, kernel(df).collect())))
    assert rows == want
    assert jobs <= len(taken) + 1, f"{jobs} jobs for {len(taken)} checkpoints"


def test_bfs_hops_matches_python_bfs(spark):
    import random
    from collections import deque

    rng = random.Random(7)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(100)})
    edges = [(a, b) for a, b in edges if a != b]
    seeds = [0, 17, 42]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")

    from cosmos_xenna_spark.operators.graph import bfs_hops

    n_hops = 4
    got = {r.node: r.hops for r in bfs_hops(df, sdf, n_hops=n_hops).collect()}

    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        n = dq.popleft()
        if dist[n] >= n_hops:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                dq.append(m)
    assert got == dist


def test_k_truss_matches_python_peel(spark):
    import itertools
    import random

    rng = random.Random(19)
    edges = list({tuple(sorted((rng.randrange(30), rng.randrange(30)))) for _ in range(90)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")

    from cosmos_xenna_spark.operators.graph import k_truss

    got = {(r.src, r.dst): r.support for r in k_truss(df, k=3, n_sweeps=10).collect()}

    # python fixpoint truss peel (10 sweeps >= convergence at this size)
    cur = set(edges)
    while True:
        adj: dict[int, set] = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
        drop = {e for e, s in sup.items() if s < 1}
        if not drop:
            break
        cur -= drop
    want = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
    assert got == want


def test_k_truss_partitioning_invariant(spark):
    from cosmos_xenna_spark.operators.graph import k_truss

    # two triangles sharing a vertex + a pendant chain
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, k_truss(df.repartition(1), 3, n_sweeps=2).collect()))
    b = sorted(map(tuple, k_truss(df.repartition(7, "src"), 3, n_sweeps=2).collect()))
    assert a == b
    # the chain edges are gone, both triangles survive with support 1
    assert {(s, d) for s, d, _ in a} == {(0, 1), (0, 2), (1, 2), (2, 3), (2, 4), (3, 4)}


def test_hits_matches_python_power_iteration(spark):
    import random

    from cosmos_xenna_spark.operators.graph import HITS_ONE, hits_fixed

    rng = random.Random(23)
    edges = list({(rng.randrange(20), 20 + rng.randrange(15)) for _ in range(80)})
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.auth_fp, r.hub_fp) for r in hits_fixed(df, n_iter=4).collect()}

    nodes = {n for e in edges for n in e}
    h = {n: HITS_ONE for n in nodes}
    a = {n: HITS_ONE for n in nodes}
    for _ in range(4):
        a_raw = {n: 0 for n in nodes}
        for s, d in edges:
            a_raw[d] += h[s]
        ad = max(1, max(a_raw.values()) // HITS_ONE)
        a = {n: v // ad for n, v in a_raw.items()}
        h_raw = {n: 0 for n in nodes}
        for s, d in edges:
            h_raw[s] += a[d]
        hd = max(1, max(h_raw.values()) // HITS_ONE)
        h = {n: v // hd for n, v in h_raw.items()}
    assert got == {n: (a[n], h[n]) for n in nodes}
    # bipartite source side: pure hubs (auth 0); target side: pure authorities
    srcs = {s for s, _ in edges} - {d for _, d in edges}
    assert all(got[s][0] == 0 for s in srcs)


def test_hits_partitioning_invariant(spark):
    from cosmos_xenna_spark.operators.graph import hits_fixed

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 0), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    x = sorted(map(tuple, hits_fixed(df.repartition(1), n_iter=3).collect()))
    y = sorted(map(tuple, hits_fixed(df.repartition(5, "dst"), n_iter=3).collect()))
    assert x == y


def test_personalized_pagerank_matches_python(spark):
    import random

    from cosmos_xenna_spark.operators.graph import ONE, personalized_pagerank

    rng = random.Random(101)
    edges = list({(rng.randrange(15), rng.randrange(15)) for _ in range(50)})
    edges = [(a, b) for a, b in edges if a != b]
    # add an isolated component unreachable from seeds
    edges += [(100, 101), (101, 100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    got = {r.node: r.rank_fp for r in personalized_pagerank(df, seeds, n_iter=3).collect()}

    nodes = sorted({n for e in edges for n in e})
    out: dict[int, int] = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    sset = {0, 1}
    base = 15 * ONE // 100 // len(sset)
    rank = {v: (ONE // len(sset) if v in sset else 0) for v in nodes}
    for _ in range(3):
        got_mass = {v: 0 for v in nodes}
        for a, b in edges:
            got_mass[b] += rank[a] // out[a]
        rank = {
            v: (base if v in sset else 0) + got_mass[v] * 85 // 100 for v in nodes
        }
    assert got == rank
    assert got[100] == 0 and got[101] == 0  # unreachable: exactly zero


def test_personalized_pagerank_all_seeds_is_pagerank(spark):
    """With every node a seed the teleport weight is 1 everywhere, so the
    walk is plain PageRank, row for row."""
    from cosmos_xenna_spark.operators.graph import personalized_pagerank

    import random

    rng = random.Random(7)
    e = spark.createDataFrame(
        [(rng.randrange(15), rng.randrange(15)) for _ in range(50)], "src long, dst long"
    ).filter("src <> dst")
    seeds = e.select(F.col("src").alias("node")).union(e.select("dst"))
    ppr = sorted(map(tuple, personalized_pagerank(e, seeds, n_iter=4).collect()))
    pr = sorted(map(tuple, pagerank_fixed(e, n_iter=4).collect()))
    assert ppr == pr
    assert len({r for _, r in pr}) > 3  # not a uniform toy graph


def test_personalized_pagerank_requires_seed(spark):
    import pytest

    from cosmos_xenna_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(99,)], "node long")  # not in graph
    with pytest.raises(ValueError):
        personalized_pagerank(df, seeds, n_iter=1)

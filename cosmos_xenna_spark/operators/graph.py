"""Iterative graph analytics on edge-list DataFrames.

Ranking: fixed-point PageRank (plain, weighted, personalized) and HITS.
Structure: triangle counts, clustering coefficient, modularity, degree
assortativity, label propagation, k-core and k-truss peeling, and
k-bounded strongly connected components. Distances: BFS hops, weighted
shortest paths, DAG layering, and probe-panel eccentricity and harmonic
centrality. Link prediction: resource allocation and Jaccard. Every
kernel has a ``*_sql`` DuckDB mirror that unrolls the same iterations.
It complements :func:`operators.dedup.connected_components`, the
engine's other iterative-join algorithm.

The frontier kernels (k-core, k-truss, SCC, BFS, weighted shortest
paths, DAG layers and the probe panels) and the rank walk behind plain
and personalized PageRank share one loop,
:func:`operators.cache.fixpoint`: checkpoint the state, release the one
it supersedes, step. Their early exit on a repeated row count proves a
fixpoint only for a grow-only or shrink-only state, so only those
kernels use it; weighted shortest paths, DAG layers and the rank walk
run every step. HITS keeps its own loop: it checkpoints two half-step
frames per iteration.

Determinism: ranks are carried as FIXED-POINT BIGINTs (scaled by
``10^SCALE``); every iteration is integer division and integer sums —
bit-exact on any engine and any partitioning, so a SQL oracle can
unroll the same iterations with ``//`` and hash-match.  (Carrying
doubles instead would make the result depend on per-node contribution
order.)

Scale notes: per iteration, equi-joins on ``src`` then one shuffle of
the per-node contribution sums (one row per NODE, not per edge); the
rank table is orders of magnitude smaller than the edge list, so AQE
broadcasts it and the edge list never shuffles.  On a cluster run,
bucket the edge table by ``src`` to co-locate every iteration's
contribution join.  Dangling nodes (no out-edges)
redistribute nothing (their mass leaks, as in the simplest PageRank
formulation — documented, matched by the oracle).  For a 100 TB edge
list the iteration count is the fixed ``n_iter``; each round is
O(edges) with no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import (
    checkpoint,
    fixpoint,
    release_local_checkpoint,
    scoped_persist,
)

SCALE = 12  # fixed-point decimal digits
ONE = 10**SCALE


def _sym_undirected_ckpt(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Symmetrized, self-loop-free, deduped undirected edge checkpoint —
    the shared head of every undirected one-shot/loop kernel.

    Symmetrizes with a row-local explode instead of
    ``edges.union(edges.reversed)``: Spark does not dedupe identical
    subplans, so the union form executed the caller's edge-derivation
    subtree (a join chain or a pair-generation pass) TWICE inside this
    eager checkpoint. The explode emits the same row multiset from one
    execution.
    """
    return checkpoint(
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
                    ),
                    F.struct(
                        F.col(dst_col).alias("a"), F.col(src_col).alias("b")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping_pct: int = 85,
    weight_col: str | None = None,
) -> DataFrame:
    """``n_iter`` PageRank iterations over ``edges`` (deduplicated).
    Returns ``(node, rank_fp)`` where ``rank_fp`` is the rank scaled
    by ``10^12`` as BIGINT.

    With ``weight_col`` (positive integer edge weights, e.g. trade
    volumes), each edge's share of its source's rank is its weight
    fraction quantized to parts-per-million (``share_ppm = w * 10^6 //
    W_out``; ``give = rank * share_ppm // 10^6``) — pure integer
    arithmetic, bit-exact, and overflow-safe for any ``rank <= 10^12``
    and ``w <= ~9*10^12`` (a direct ``rank * w`` would overflow int64
    for count-scale weights).  Duplicate (src, dst) rows are
    weight-summed.

    Unweighted update rule (integer arithmetic, damping as a
    percentage):
    ``rank'(v) = (100 - d) * ONE / 100 / N  +  d * sum_{u->v} (rank(u) // out(u)) // 100``
    """
    if weight_col is None:
        e0 = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct()
    else:
        e0 = (
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                F.col(weight_col).cast("bigint").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    return _rank_walk(e0, None, n_iter, damping_pct)


def _rank_walk(
    e0: DataFrame, seeds: DataFrame | None, n_iter: int, damping_pct: int
) -> DataFrame:
    """The integer random walk behind :func:`pagerank_fixed` and
    :func:`personalized_pagerank`: ``n_iter`` steps over the deduped
    edge set ``e0`` (``src, dst`` plus an optional weight ``w``).

    Each node carries a teleport weight ``tw``: 1 for every node
    (PageRank), or 1 for the distinct ``node`` values of ``seeds`` and 0
    elsewhere (personalized PageRank). With ``T = sum(tw)`` the walk
    starts at ``tw * (ONE // T)`` and steps
    ``rank'(v) = tw(v) * ((100 - d) * ONE // 100 // T) + got(v) * d // 100``,
    so with ``tw = 1`` the arithmetic is exactly the plain PageRank rule.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    # Checkpoint the deduped edge set FIRST: `e0` (often an expensive
    # join/scan chain — q_pagerank derives it from a 4-table TPC-H
    # join) feeds FOUR plan branches (both node unions, the out-degree
    # aggregate, and the share join), and Spark does not dedupe
    # identical subplans — un-materialized, the derivation executed
    # four times across the two eager checkpoints below. After this
    # leaf, those branches are cheap re-reads of resident blocks.
    e0 = checkpoint(e0)
    nodes = (
        e0.select(F.col("src").alias("node"))
        .unionByName(e0.select(F.col("dst").alias("node")))
        .distinct()
    )
    if "w" in e0.columns:
        out_w = e0.groupBy("src").agg(F.sum("w").alias("out_w"))
        e = e0.join(out_w, "src").withColumn(
            "share_ppm", F.expr("w * 1000000L div out_w")
        )
        give_expr = "rank_fp * share_ppm div 1000000"
    else:
        out_w = e0.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        e = e0.join(out_w, "src")
        give_expr = "rank_fp div out_deg"
    if seeds is None:
        nodes = nodes.withColumn("tw", F.lit(1))
    else:
        nodes = nodes.join(seeds.withColumn("tw", F.lit(1)), "node", "left").withColumn(
            "tw", F.coalesce(F.col("tw"), F.lit(0))
        )
    # Checkpoint the loop-invariant frames ONCE. Without this, every
    # iteration's plan re-derives `e` and `nodes` from the raw edge
    # input, and because `ranks` references them in multiple branches
    # the subplans multiply: the 3-iteration plan compiled to 56
    # parquet scans / 27 shuffles (measured by scripts/plan_audit.py)
    # versus 2 scans / ~8 shuffles with the checkpoints — at 100 TB
    # that is the difference between reading the edge list twice and
    # reading it 56 times. The teleport total T is observed on the
    # node checkpoint's own job.
    e = checkpoint(e)
    seen = Observation()
    nodes = checkpoint(nodes.observe(seen, F.sum("tw").alias("t")))
    # The raw-edge checkpoint is dead once the two derived checkpoints
    # above have materialized. The walk's result plans against `e`,
    # `nodes` and the last rank checkpoint, so those three are left to
    # the JVM ContextCleaner (frames derived from the result keep
    # planning against them).
    release_local_checkpoint(e0)
    t = seen.get["t"] or 0
    if t == 0:
        raise ValueError("the walk needs >= 1 node (and, personalized, >= 1 seed in the graph)")
    base = (100 - damping_pct) * ONE // 100 // t

    def step(ranks: DataFrame) -> DataFrame:
        # Broadcast the node-sized rank frame into the SpMV join so the
        # edge list never re-shuffles across iterations (the hits_fixed
        # lesson: SMJ re-exchanged the whole edge table every step).
        contrib = e.join(
            F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
        ).select(F.col("dst").alias("node"), F.expr(give_expr).alias("give"))
        summed = contrib.groupBy("node").agg(F.sum("give").alias("got"))
        # The zero-fill left join pairs two node-sized frames; `summed`
        # broadcasts for the same reason the ranks do — without the hint
        # Spark picks an SMJ (two exchanges + sorts per iteration on the
        # checkpointed node frame).
        return nodes.join(F.broadcast(summed), "node", "left").select(
            "node",
            (
                F.col("tw") * F.lit(base)
                + F.expr(f"coalesce(got, 0L) * {damping_pct} div 100")
            ).cast("bigint").alias("rank_fp"),
        )

    ranks = nodes.select(
        "node", (F.col("tw") * F.lit(ONE // t)).cast("bigint").alias("rank_fp")
    )
    return fixpoint(ranks, step, n_iter)


def pagerank_fixed_sql(
    edges_sql: str, n_iter: int = 3, damping_pct: int = 85
) -> str:
    """DuckDB mirror: the same iterations unrolled as chained CTEs.

    ``edges_sql`` must yield columns ``src, dst`` (it is deduplicated
    here, matching the Spark side)."""
    head = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    outd AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST({ONE} // (SELECT n FROM nn) AS BIGINT) AS rank_fp FROM nodes)
    """
    steps = []
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        steps.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node, SUM(p.rank_fp // o.out_deg) AS got
      FROM e JOIN {prev} p ON e.src = p.node JOIN outd o ON e.src = o.src
      GROUP BY e.dst
    ),
    {cur} AS (
      SELECT n.node,
             CAST((100 - {damping_pct}) * {ONE} // 100 // (SELECT n FROM nn)
                  + COALESCE(c.got, 0) * {damping_pct} // 100 AS BIGINT) AS rank_fp
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\nSELECT CAST(node AS BIGINT) AS node, rank_fp FROM r{n_iter}"
    )


def triangle_count(edges: DataFrame, src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Global triangle count over the undirected simple graph of
    ``edges`` — one row ``(n_triangles)``.

    Degree-ordered node-iterator algorithm: every edge is oriented
    from the smaller to the larger endpoint under the total order
    ``(degree, node)``, each triangle then appears as exactly one
    wedge ``x->y->z`` closed by ``x->z``.  The orientation bounds each
    node's out-degree by O(sqrt(m)) on any graph — the property that
    keeps the wedge join's fan-out tractable at scale, where plain
    id-ordering lets one high-degree hub explode the join.

    Shape: two equi-joins over the oriented edge list (wedge build +
    closure check), degree table broadcast onto the edges (one row per
    node).
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = F.broadcast(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"))
    dv = F.broadcast(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"))
    lab = und.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = lab.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
    )
    # The oriented edge list feeds THREE plan branches (both wedge
    # sides + the closure probe); Spark re-derives identical subplans
    # per branch, which triplicates the dedup/degree joins (measured:
    # 19 shuffles / 36 scans unpersisted vs 7 / 1 with the persist).
    # Scoped to the result's lifetime, as everywhere else.
    wedges = o.alias("o1").join(
        o.select(F.col("x").alias("y"), F.col("y").alias("z")).alias("o2"), "y"
    )
    closed = wedges.join(
        o.select(F.col("x"), F.col("y").alias("z")), ["x", "z"], "left_semi"
    )
    return scoped_persist(o, closed.agg(F.count(F.lit(1)).alias("n_triangles")))


def pagerank_weighted_sql(
    edges_sql: str, n_iter: int = 3, damping_pct: int = 85
) -> str:
    """DuckDB mirror of the weighted path (``edges_sql`` must yield
    ``src, dst, w``): the same ppm-share quantization, unrolled."""
    head = f"""
    WITH e0 AS MATERIALIZED (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w
                FROM ({edges_sql}) GROUP BY src, dst),
    ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM e0 GROUP BY src),
    e AS (SELECT e0.src, e0.dst,
                 CAST(e0.w * 1000000 // ow.out_w AS BIGINT) AS share_ppm
          FROM e0 JOIN ow ON e0.src = ow.src),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST({ONE} // (SELECT n FROM nn) AS BIGINT) AS rank_fp FROM nodes)
    """
    steps = []
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        steps.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node, SUM(p.rank_fp * e.share_ppm // 1000000) AS got
      FROM e JOIN {prev} p ON e.src = p.node
      GROUP BY e.dst
    ),
    {cur} AS (
      SELECT n.node,
             CAST((100 - {damping_pct}) * {ONE} // 100 // (SELECT n FROM nn)
                  + COALESCE(c.got, 0) * {damping_pct} // 100 AS BIGINT) AS rank_fp
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\nSELECT CAST(node AS BIGINT) AS node, rank_fp FROM r{n_iter}"
    )


def label_propagation(
    edges: DataFrame, n_iter: int = 2, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Synchronous label propagation (community detection): every node's
    label becomes the most frequent label among its neighbors, ties to
    the SMALLEST label — a total order, so each sweep is deterministic
    and the fixed-iteration result is bit-exact against the unrolled
    SQL oracle (all-integer arithmetic, the PageRank discipline).

    Edges are symmetrized; initial label = node id.  Returns
    ``(node, label)`` after ``n_iter`` sweeps.

    Scale shape: per sweep, one join of the (node-sized) label table
    onto the edge list keyed by neighbor + one (node, label) count
    aggregation + one ``max_by`` reduction — the edge list never
    carries more than (neighbor label) payload, and the label table
    stays one row per node.  The symmetrized edge list feeds
    ``n_iter + 1`` plan branches (label init + every sweep), so it is
    eagerly checkpointed — without that the edge subplan
    (often a multi-table join) re-plans and re-executes once per
    branch (the PageRank loop-invariant lesson; the plan budget lint
    caught this at 14 shuffles / 24 parquet scans for 2 sweeps, vs
    2 shuffles / 0 scans checkpointed).  The final labels still plan
    against the checkpoint, so its blocks are left to the JVM's
    ContextCleaner (same contract as PageRank's node frame).
    """
    e = _sym_undirected_ckpt(edges, src_col, dst_col)
    labels = e.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(n_iter):
        neigh = e.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = neigh.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        labels = counts.groupBy("node").agg(
            F.expr("max_by(label, struct(cnt, -label))").alias("label")
        )
    return labels


def label_propagation_sql(edges_sql: str, n_iter: int = 2) -> str:
    prev = "l0"
    steps = [
        f"""e AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM ({edges_sql}) WHERE src <> dst
          UNION
          SELECT dst, src FROM ({edges_sql}) WHERE src <> dst
        )""",
        "l0 AS (SELECT DISTINCT a AS node, a AS label FROM e)",
    ]
    for i in range(1, n_iter + 1):
        steps.append(
            f"""c{i} AS (
              SELECT e.a AS node, p.label, COUNT(*) AS cnt
              FROM e JOIN {prev} p ON p.node = e.b
              GROUP BY e.a, p.label
            )"""
        )
        steps.append(
            f"""l{i} AS (
              SELECT node, label FROM (
                SELECT node, label,
                       ROW_NUMBER() OVER (PARTITION BY node
                                          ORDER BY cnt DESC, label) AS rn
                FROM c{i}
              ) WHERE rn = 1
            )"""
        )
        prev = f"l{i}"
    return (
        "WITH " + ",\n".join(steps)
        + f"\nSELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label FROM {prev}"
    )


def k_core(
    edges: DataFrame,
    k: int,
    n_sweeps: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peeling: repeatedly drop nodes with degree < ``k`` in the
    surviving subgraph — the classic web-graph/spam-farm trimming step
    (a crawl's "core" is where authority concentrates; tendrils and
    orphan chains peel away).

    Synchronous sweeps for a FIXED ``n_sweeps`` (each sweep recomputes
    degrees over the survivor-restricted edge set and keeps nodes with
    degree >= k), so the result is deterministic and bit-exact against
    the unrolled SQL oracle whether or not the peel has converged —
    the label-propagation contract. Peeling converges in at most the
    longest chain of cascading removals; pass a generous ``n_sweeps``
    and check the fixpoint with :func:`k_core_converged` when needed.

    Returns ``(node, degree)`` — survivors with their in-core degree.

    Scale shape: the symmetrized edge list is loop-invariant and
    eagerly checkpointed (it feeds every sweep's plan); each sweep is
    two semi-joins of the node-sized survivor table onto the edges +
    one count aggregation — edges shuffle once per sweep on an
    endpoint key, the survivor table stays one row per node.
    """
    e = _sym_undirected_ckpt(edges, src_col, dst_col)

    def degrees(alive: DataFrame) -> DataFrame:
        return (
            alive.groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
            .filter(F.col("degree") >= k)
        )

    def sweep(surv: DataFrame) -> DataFrame:
        return degrees(
            e.join(surv.select(F.col("node").alias("a")), "a").join(
                surv.select(F.col("node").alias("b")), "b"
            )
        )

    # without the per-sweep checkpoint the static plan compounds to
    # 2 joins x n_sweeps branches (28 shuffles for 4 sweeps); peeling
    # only removes nodes, so the survivor set is shrink-only
    return fixpoint(degrees(e), sweep, n_sweeps, F.count(F.lit(1)))


def k_core_sql(edges_sql: str, k: int, n_sweeps: int = 8) -> str:
    steps = [
        f"raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        """e AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM raw
          UNION
          SELECT dst, src FROM raw
        )""",
        f"""s0 AS (
          SELECT a AS node, COUNT(*) AS degree FROM e GROUP BY a
          HAVING COUNT(*) >= {k}
        )""",
    ]
    prev = "s0"
    for i in range(1, n_sweeps + 1):
        steps.append(
            f"""s{i} AS (
              SELECT e.a AS node, COUNT(*) AS degree
              FROM e
              JOIN {prev} pa ON e.a = pa.node
              JOIN {prev} pb ON e.b = pb.node
              GROUP BY e.a HAVING COUNT(*) >= {k}
            )"""
        )
        prev = f"s{i}"
    return (
        "WITH " + ",\n".join(steps) + f"\nSELECT node, CAST(degree AS BIGINT) AS degree FROM {prev}"
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    n_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distance: for every node reachable from the
    seed set within ``n_hops`` undirected hops, the minimum hop count —
    crawl-frontier depth, link-distance-from-trusted-set (TrustRank's
    first stage), blast-radius analysis.

    Exact integer min-plus iteration, deterministic for fixed
    ``n_hops`` (bit-exact vs the unrolled SQL oracle). Returns
    ``(node, hops)``.

    Scale shape: the frontier table holds one row per REACHED node;
    each hop is one join of that table onto the checkpointed edge list
    + a min aggregation. Unreached nodes never materialize.
    """
    e = _sym_undirected_ckpt(edges, src_col, dst_col)
    dist = seeds.select(F.col(node_col).alias("node")).distinct().withColumn(
        "hops", F.lit(0).cast("bigint")
    )

    def hop(dist: DataFrame) -> DataFrame:
        step = e.join(
            dist.select(F.col("node").alias("b"), "hops"), "b"
        ).select(F.col("a").alias("node"), (F.col("hops") + 1).alias("hops"))
        return dist.union(step).groupBy("node").agg(F.min("hops").alias("hops"))

    # the reached set only grows, and a node's min-hop is exact the
    # moment it first appears (BFS frontier property)
    return fixpoint(dist, hop, n_hops, F.count(F.lit(1)))


def bfs_hops_sql(edges_sql: str, seeds_sql: str, n_hops: int) -> str:
    steps = [
        f"raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        """e AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM raw
          UNION
          SELECT dst, src FROM raw
        )""",
        f"d0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS hops FROM ({seeds_sql}))",
    ]
    prev = "d0"
    for i in range(1, n_hops + 1):
        steps.append(
            f"""d{i} AS (
              SELECT node, MIN(hops) AS hops FROM (
                SELECT node, hops FROM {prev}
                UNION ALL
                SELECT e.a AS node, p.hops + 1 AS hops
                FROM e JOIN {prev} p ON e.b = p.node
              ) GROUP BY node
            )"""
        )
        prev = f"d{i}"
    return (
        "WITH " + ",\n".join(steps) + f"\nSELECT node, CAST(hops AS BIGINT) AS hops FROM {prev}"
    )


def k_truss(
    edges: DataFrame,
    k: int,
    n_sweeps: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-truss peeling: repeatedly drop edges supported by fewer than
    ``k - 2`` triangles in the surviving subgraph — the EDGE-level
    analogue of :func:`k_core` and the standard community-mining
    tightener (a duplicate "community" that survives the 3-truss is
    triangle-certified, not just chained through hubs).

    Fixed synchronous ``n_sweeps`` (the :func:`label_propagation` /
    :func:`k_core` determinism contract): each sweep recomputes
    per-edge triangle support over the surviving canonical edge set
    and keeps edges with ``support >= k - 2``, so the result is
    bit-exact vs the unrolled SQL oracle whether or not the peel has
    converged.

    Returns canonical surviving edges ``(src, dst, support)`` with
    ``src < dst`` and their in-truss support.

    Scale shape: support is the two-join wedge count (edge endpoints
    against the symmetrized survivor adjacency) — each sweep shuffles
    the edge list twice on node keys plus once for the (a, b) count;
    the per-sweep frames are edge-sized and eagerly checkpointed so
    the static plan stays linear in ``n_sweeps`` (the PageRank
    loop-invariant lesson). Hot-node skew lands in the wedge join,
    where AQE skew-split applies — same contract as triangle_count's
    degree-ordered wedges.
    """
    if n_sweeps < 1:
        raise ValueError("k_truss needs n_sweeps >= 1")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def sweep(e: DataFrame) -> DataFrame:
        cur = e.select("a", "b")
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        wedges = (
            cur.join(sym.select(F.col("a").alias("a"), F.col("b").alias("w")), "a")
            .join(
                sym.select(F.col("a").alias("b"), F.col("b").alias("w")),
                ["b", "w"],
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("__sup"))
        )
        return (
            cur.join(wedges, ["a", "b"], "left")
            .withColumn("support", F.coalesce(F.col("__sup"), F.lit(0)))
            .drop("__sup")
            .filter(F.col("support") >= k - 2)
        )

    # peeling only removes edges; n_sweeps >= 1, so even an early exit
    # returns a swept frame that carries ``support``
    e = fixpoint(e, sweep, n_sweeps, F.count(F.lit(1)))
    return e.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.col("support").cast("bigint").alias("support"),
    )


def k_truss_sql(edges_sql: str, k: int, n_sweeps: int = 4) -> str:
    steps = [
        f"""e0 AS MATERIALIZED (
          SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
          FROM ({edges_sql}) WHERE src <> dst
        )"""
    ]
    prev = "e0"
    for i in range(1, n_sweeps + 1):
        steps.append(
            f"""sym{i} AS MATERIALIZED (
              SELECT a, b FROM {prev} UNION ALL SELECT b, a FROM {prev}
            )"""
        )
        steps.append(
            f"""sup{i} AS MATERIALIZED (
              SELECT e.a, e.b, COUNT(*) AS support
              FROM {prev} e
              JOIN sym{i} s1 ON e.a = s1.a
              JOIN sym{i} s2 ON e.b = s2.a AND s1.b = s2.b
              GROUP BY e.a, e.b
            )"""
        )
        steps.append(
            f"""e{i} AS MATERIALIZED (
              SELECT e.a, e.b, COALESCE(s.support, 0) AS support
              FROM {prev} e LEFT JOIN sup{i} s ON e.a = s.a AND e.b = s.b
              WHERE COALESCE(s.support, 0) >= {k - 2}
            )"""
        )
        prev = f"e{i}"
    return (
        "WITH "
        + ",\n".join(steps)
        + f"\nSELECT a AS src, b AS dst, CAST(support AS BIGINT) AS support FROM {prev}"
    )


HITS_ONE = 10**9  # hub/authority fixed-point unit (int64-safe for ~9e9 in-edges)


def hits_fixed(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """``n_iter`` HITS (hubs & authorities) iterations over the
    directed edge set (deduplicated) — the link-analysis complement to
    PageRank: a node is a good HUB if it points at good authorities,
    a good AUTHORITY if good hubs point at it (supplier/consumer roles
    in a citation, trade or crawl graph).

    Update rule per iteration, in exact int64 fixed point (scores
    scaled by ``HITS_ONE``; the :func:`pagerank_fixed` determinism
    contract):

        a_raw(v) = sum_{u->v} h(u);   a = a_raw // (max(a_raw) // HITS_ONE)
        h_raw(u) = sum_{u->v} a(v);   h = h_raw // (max(h_raw) // HITS_ONE)

    Normalization is by the max (infinity norm) rather than the
    textbook L2 norm — sqrt would leave integer arithmetic — and the
    divisor is quantized (``max // HITS_ONE``, >= 1 by the invariant
    that each step's max raw score is >= HITS_ONE) so the rescale is a
    single int64 floor-division: the naive ``raw * HITS_ONE // max``
    overflows int64 once a node has ~10 full-strength in-edges.
    Scores stay in [0, 2 * HITS_ONE); the iteration converges to the
    same principal eigenvectors up to scale, and every intermediate is
    an exact BIGINT, so results are bit-identical across engines and
    partitionings.

    Returns ``(node, auth_fp, hub_fp)`` for every node.

    Scale shape: per iteration two edge equi-joins + two aggregations
    on node keys (all map-side partial); the edge list and node frame
    are checkpointed once (loop-invariant), score frames are
    checkpointed and released per iteration so the static plan stays
    linear in ``n_iter``.  The norm is a driver-side 1-row scalar per
    half-step (the bounded-scalar pattern, like pagerank's node
    count).  The node-sized score frame broadcasts into each SpMV join,
    so the EDGE LIST never re-shuffles across iterations (measured: SMJ
    re-exchanged the 586k-edge table twice per half-step).
    """
    if n_iter < 1:
        raise ValueError("hits_fixed needs n_iter >= 1")
    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Normalization WITHOUT a driver round-trip: the quantized max
    # divisor rides along as a broadcast 1-row aggregate (a scalar-
    # subquery cross join — the repo's heavy-hitters pattern), so the
    # normalized frame is a LAZY select over the raw-sum checkpoint.
    # The former per-half-step ``agg(max).collect()`` barrier cost one
    # full extra job per half-step — 6 driver collects and 6 cached-
    # frame re-reads per 3-iteration run (guide §5: no driver
    # materialization in a query path). ``greatest(1, max(raw) div
    # HITS_ONE)`` is the same int64 floor arithmetic the collect
    # computed in Python, so every score stays bit-identical.
    def _norm(raw: DataFrame, out: str) -> DataFrame:
        d = raw.agg(
            F.greatest(
                F.lit(1).cast("bigint"), F.expr(f"max(raw) div {HITS_ONE}L")
            ).alias("__d")
        )
        return raw.crossJoin(F.broadcast(d)).select(
            "node", F.expr("raw div __d").alias(out)
        )

    hubs = nodes.withColumn("h", F.lit(HITS_ONE).cast("bigint"))
    auths = nodes.withColumn("a", F.lit(HITS_ONE).cast("bigint"))
    h_holder: DataFrame | None = None
    a_holder: DataFrame | None = None
    for _ in range(n_iter):
        # One eager checkpoint per half-step (the join+agg raw sums) is
        # the only materialization; normalization is lazy over it.
        # Intermediate score frames carry ONLY nodes with a nonzero raw
        # sum: a node absent from a_raw would zero-fill to a == 0 and
        # contribute exactly 0 to every downstream sum, so the per-half-
        # step nodes LEFT JOIN (an SMJ — two exchanges + sorts per half-
        # step, 12 exchanges per 3-iteration run) is deferred to one
        # zero-fill of the FINAL frames below. Values are bit-identical.
        h_side = hubs.withColumnRenamed("node", "src")
        a_raw = checkpoint(
            e.join(F.broadcast(h_side), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("raw"))
        )
        # The previous iteration's a_raw checkpoint is dead once this
        # one has materialized (its lazy auths view fed exactly the
        # h_raw checkpoint of that iteration).
        if a_holder is not None:
            release_local_checkpoint(a_holder)
        a_holder = a_raw
        auths = _norm(a_raw, "a")
        a_side = auths.withColumnRenamed("node", "dst")
        h_raw = checkpoint(
            e.join(F.broadcast(a_side), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("raw"))
        )
        if h_holder is not None:
            release_local_checkpoint(h_holder)
        h_holder = h_raw
        hubs = _norm(h_raw, "h")
    # One zero-fill at the end recovers the all-nodes contract (auth/hub
    # = 0 for nodes the raw sums never reached). The node-sized score
    # frames broadcast, as in the SpMV joins.
    out = (
        nodes.join(F.broadcast(auths), "node", "left")
        .join(F.broadcast(hubs), "node", "left")
        .select(
            "node",
            F.coalesce("a", F.lit(0)).cast("bigint").alias("auth_fp"),
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub_fp"),
        )
    )
    release_local_checkpoint(e)
    return out


def hits_fixed_sql(edges_sql: str, n_iter: int = 3) -> str:
    """DuckDB mirror: unrolled CTE chain, max norms as scalar
    subqueries, integer // division throughout."""
    head = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS (SELECT node, CAST({HITS_ONE} AS BIGINT) AS h FROM nodes)
    """
    steps = []
    for i in range(n_iter):
        steps.append(
            f""",
    ar{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(p.h) AS raw
      FROM e JOIN h{i} p ON e.src = p.node GROUP BY e.dst
    ),
    a{i + 1} AS (
      SELECT n.node,
             CAST(COALESCE(r.raw, 0)
                  // GREATEST(1, (SELECT MAX(raw) FROM ar{i}) // {HITS_ONE})
                  AS BIGINT) AS a
      FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node
    ),
    hr{i} AS MATERIALIZED (
      SELECT e.src AS node, SUM(p.a) AS raw
      FROM e JOIN a{i + 1} p ON e.dst = p.node GROUP BY e.src
    ),
    h{i + 1} AS (
      SELECT n.node,
             CAST(COALESCE(r.raw, 0)
                  // GREATEST(1, (SELECT MAX(raw) FROM hr{i}) // {HITS_ONE})
                  AS BIGINT) AS h
      FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"""
    SELECT CAST(a.node AS BIGINT) AS node, a.a AS auth_fp, h.h AS hub_fp
    FROM a{n_iter} a JOIN h{n_iter} h ON a.node = h.node"""
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
) -> DataFrame:
    """Personalized PageRank: random walks RESTART at the seed set
    instead of uniformly — the graph-proximity score behind
    related-item retrieval and seed-expansion labeling ("find
    everything topically near these known-good documents").  Nodes
    unreachable from the seeds score exactly 0.

    Same exact int64 fixed-point contract and the same walk as
    :func:`pagerank_fixed` (scores x 10^12, integer div, bit-identical
    across engines and partitionings); the teleport mass
    ``(100-d) * ONE / 100 / |S|`` lands only on seed nodes, and the
    initial mass is uniform over the seeds. With every node a seed the
    result equals :func:`pagerank_fixed` row for row.
    """
    e0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    s = seeds.select(F.col(seed_col).alias("node")).distinct()
    return _rank_walk(e0, s, n_iter, damping_pct)


def personalized_pagerank_sql(
    edges_sql: str, seeds_sql: str, n_iter: int = 3, damping_pct: int = 85
) -> str:
    """DuckDB mirror — unrolled iterations, seed-gated teleport."""
    head = f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql})),
    nodes0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    s AS (SELECT DISTINCT node FROM ({seeds_sql})),
    nodes AS (
      SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
      FROM nodes0 n LEFT JOIN s ON n.node = s.node
    ),
    outd AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
    ns AS (SELECT SUM(is_seed) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(is_seed * ({ONE} // (SELECT n FROM ns)) AS BIGINT) AS rank_fp
      FROM nodes
    )
    """
    steps = []
    for i in range(n_iter):
        prev, cur = f"r{i}", f"r{i + 1}"
        steps.append(
            f""",
    c{i} AS (
      SELECT e.dst AS node, SUM(p.rank_fp // o.out_deg) AS got
      FROM e JOIN {prev} p ON e.src = p.node JOIN outd o ON e.src = o.src
      GROUP BY e.dst
    ),
    {cur} AS (
      SELECT n.node,
             CAST(n.is_seed * ((100 - {damping_pct}) * {ONE} // 100 // (SELECT n FROM ns))
                  + COALESCE(c.got, 0) * {damping_pct} // 100 AS BIGINT) AS rank_fp
      FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
    )"""
        )
    return (
        head
        + "".join(steps)
        + f"\nSELECT CAST(node AS BIGINT) AS node, rank_fp FROM r{n_iter}"
    )


def scc_labels(
    edges: DataFrame,
    n_hops: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-bounded strongly connected components of a DIRECTED graph:
    each node's SCC label is the minimum node id in the intersection
    of its ``n_hops``-bounded forward and backward closures — the
    cycle-structure primitive behind dependency-graph collapse,
    spam-ring detection and trade-loop analysis.

    Why min-of-intersection and not the (F, B) min-pair: the pair is
    NOT sufficient (nodes 2->0 and 3->0 with 1->2, 1->3 share
    (F, B) = (0, 1) but are different SCCs).  ``m = min(fwd(u) ∩
    bwd(u))`` always contains ``u`` itself, and any ``m`` in the
    intersection is mutually reachable with ``u``, so equal labels
    certify the same SCC exactly once closures are complete (``n_hops``
    >= the component diameter; with smaller ``n_hops`` the result is
    the documented k-bounded refinement, still bit-exact vs the
    unrolled SQL oracle).

    Scale shape: the closure tables hold one row per (node, reached)
    pair within ``n_hops`` — suited to graphs whose REACHABLE sets are
    bounded (small-world components, entity graphs after blocking,
    nation-sized rollups), NOT to grid-like graphs with huge closures;
    each hop is one equi-join onto the checkpointed edge list + a
    distinct.  Reference: cosmos-xenna has no graph ops; this extends
    the Spark-native analytics surface (SURVEY §2.B).
    """
    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def _sweep(forward: bool) -> DataFrame:
        # One direction's n_hops closure; the closure set only grows.
        frm, to = ("src", "dst") if forward else ("dst", "src")

        def hop(cur: DataFrame) -> DataFrame:
            step = cur.join(e, cur.reach == e[frm]).select(
                "node", F.col(to).alias("reach")
            )
            return cur.union(step).distinct()

        return fixpoint(
            nodes.withColumn("reach", F.col("node")), hop, n_hops, F.count(F.lit(1))
        )

    # The forward and backward sweeps are INDEPENDENT job chains until
    # the final intersection — submit them from two driver threads so
    # one sweep's stragglers back-fill with the other sweep's tasks
    # (guide: overlap independent jobs) instead of serializing 2 *
    # n_hops checkpoint actions.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(edges.sparkSession)
    if not callable(wrap):
        # With PYSPARK_PIN_THREAD=false, pyspark's non-pinned branch
        # returns the session itself instead of a decorator; fall back
        # to the classic form (inheritable_thread_target(fn) directly),
        # which copies the driver thread-locals at submit time.
        wrap = inheritable_thread_target
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fut = pool.submit(wrap(lambda: _sweep(True)))
        b_fut = pool.submit(wrap(lambda: _sweep(False)))
        fwd, bwd = f_fut.result(), b_fut.result()
    return (
        fwd.join(bwd, ["node", "reach"])
        .groupBy("node")
        .agg(F.min("reach").cast("bigint").alias("scc_id"))
        .select(F.col("node").cast("bigint").alias("node"), "scc_id")
    )


def scc_labels_sql(edges_sql: str, n_hops: int = 4) -> str:
    """DuckDB mirror — unrolled closure sweeps, same min-of-intersection."""
    steps = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "f0 AS (SELECT node, node AS reach FROM nodes)",
        "b0 AS (SELECT node, node AS reach FROM nodes)",
    ]
    for i in range(1, n_hops + 1):
        steps.append(
            f"""f{i} AS (
              SELECT node, reach FROM f{i - 1}
              UNION
              SELECT p.node, e.dst AS reach FROM f{i - 1} p JOIN e ON p.reach = e.src
            )"""
        )
        steps.append(
            f"""b{i} AS (
              SELECT node, reach FROM b{i - 1}
              UNION
              SELECT p.node, e.src AS reach FROM b{i - 1} p JOIN e ON p.reach = e.dst
            )"""
        )
    return (
        "WITH " + ",\n".join(steps) + f"""
    SELECT CAST(f.node AS BIGINT) AS node, CAST(MIN(f.reach) AS BIGINT) AS scc_id
    FROM f{n_hops} f JOIN b{n_hops} b ON f.node = b.node AND f.reach = b.reach
    GROUP BY f.node
    """
    )


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    n_sweeps: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
) -> DataFrame:
    """Weighted single/multi-source shortest path (Bellman-Ford
    min-plus sweeps) on a DIRECTED graph with non-negative integer
    edge costs: after ``n_sweeps`` relaxations, every node reachable
    within that many hops carries the exact minimum path cost over
    paths of <= ``n_sweeps`` edges — routing cost, influence
    distance, cheapest supply path.

    ``bfs_hops`` is the unit-weight special case; this keeps the same
    frontier discipline (distance table one row per REACHED node,
    per-sweep eager checkpoint, loop-invariant checkpointed edge
    list) with cost = min(cost, prev_cost + w) instead of hop + 1.
    Exact bigint arithmetic — bit-exact vs the unrolled SQL oracle.
    """
    e = checkpoint(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("bigint").alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    dist = seeds.select(F.col(node_col).alias("node")).distinct().withColumn(
        "cost", F.lit(0).cast("bigint")
    )

    def relax(dist: DataFrame) -> DataFrame:
        step = e.join(
            dist.select(F.col("node").alias("src"), "cost"), "src"
        ).select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        return dist.union(step).groupBy("node").agg(F.min("cost").alias("cost"))

    # a cost can still fall after the reached set stops growing, so the
    # signal pairs the count with the exact cost sum: the reached set only
    # grows and no cost ever rises, so an equal pair means an equal table
    dist = fixpoint(
        dist,
        relax,
        n_sweeps,
        F.struct(F.count(F.lit(1)), F.sum(F.col("cost").cast("decimal(38,0)"))),
    )
    return dist.select(F.col("node").cast("bigint").alias("node"), "cost")


def sssp_weighted_sql(edges_sql: str, seeds_sql: str, n_sweeps: int = 4) -> str:
    steps = [
        f"""e AS MATERIALIZED (
          SELECT src, dst, MIN(w) AS w FROM ({edges_sql})
          WHERE src <> dst GROUP BY src, dst
        )""",
        f"d0 AS (SELECT DISTINCT node, CAST(0 AS BIGINT) AS cost FROM ({seeds_sql}))",
    ]
    prev = "d0"
    for i in range(1, n_sweeps + 1):
        steps.append(
            f"""d{i} AS (
              SELECT node, MIN(cost) AS cost FROM (
                SELECT node, cost FROM {prev}
                UNION ALL
                SELECT e.dst AS node, p.cost + e.w AS cost
                FROM e JOIN {prev} p ON e.src = p.node
              ) GROUP BY node
            )"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n".join(steps)
        + f"\nSELECT CAST(node AS BIGINT) AS node, CAST(cost AS BIGINT) AS cost FROM {prev}"
    )


RA_ONE = 10**9


def resource_allocation_link_prediction(
    edges: DataFrame,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou, Lü &
    Zhang 2009): for every NON-adjacent node pair (a, b) sharing at
    least one neighbor, ``ra_score = sum over common neighbors z of
    RA_ONE div deg(z)`` plus the raw common-neighbor count — the
    classic "which edges are missing" primitive for recommend-
    similar-docs and dedup-graph densification.

    Integer-exact: each common neighbor contributes ``10^9 div
    deg(z)``, a bigint — no float sums, bit-exact across engines.

    Scale shape: ONE wedge self-join (a–z, z–b equi-join on the
    middle node) grouped by the (a, b) pair, then an anti-join
    against the existing edge list.  Wedge count is sum(deg(z)^2) —
    quadratic in HUB degree, so ``max_degree`` drops super-hub
    middles (standard RA practice: a 10^6-degree hub contributes
    ~nothing per path anyway, RA_ONE div 10^6 each).  At 100 TB the
    cap is the difference between sum(deg^2) over capped nodes and a
    join that never finishes.
    """
    # Eager checkpoint: `und` feeds sym (twice), the degree table, both
    # wedge-join sides and the final anti-join — without it the whole
    # upstream edge-derivation subplan (an LSH banding chain for the
    # dedup graph) re-executes once per branch (the label-propagation
    # lesson; plan lint caught 23 shuffles / 7 scans here).
    und = checkpoint(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("z")).agg(F.count(F.lit(1)).alias("deg"))
    if max_degree is not None:
        deg = deg.filter(F.col("deg") <= max_degree)
    # wedges a-z-b through surviving middles, canonical a < b
    half = sym.select(F.col("a"), F.col("b").alias("z")).join(deg, "z")
    wedges = (
        half.alias("l")
        .join(
            sym.select(F.col("a").alias("z"), F.col("b")).alias("r"),
            F.col("l.z") == F.col("r.z"),
        )
        .filter(F.col("l.a") < F.col("r.b"))
        .select(
            F.col("l.a").alias("a"),
            F.col("r.b").alias("b"),
            # integer `div`, never `/`: float quotients truncate in
            # Spark but floor in DuckDB (the RRF-score lesson)
            F.expr(f"{RA_ONE}L div deg").alias("contrib"),
        )
    )
    scored = wedges.groupBy("a", "b").agg(
        F.sum("contrib").cast("bigint").alias("ra_score"),
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
    )
    # Anti-join against the CANONICALIZED edge set: wedges emit
    # canonical a < b pairs, so an edge stored only as (3, 2) must
    # still exclude the pair (2, 3) — anti-joining the raw `und`
    # orientation would report adjacent pairs as missing links on
    # directed / non-canonical input (ADVICE r8).
    und_canon = und.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    return scored.join(und_canon, ["a", "b"], "left_anti").select(
        F.col("a").cast("bigint").alias("node_a"),
        F.col("b").cast("bigint").alias("node_b"),
        "ra_score",
        "common_neighbors",
    )


def resource_allocation_sql(edges_sql: str, max_degree: int | None = None) -> str:
    cap = f"WHERE deg <= {max_degree}" if max_degree is not None else ""
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT src AS a, dst AS b FROM ({edges_sql}) WHERE src <> dst
    ),
    sym AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (
      SELECT * FROM (SELECT a AS z, COUNT(*) AS deg FROM sym GROUP BY a) {cap}
    ),
    wedges AS (
      SELECT l.a, r.b, {RA_ONE} // d.deg AS contrib
      FROM sym l JOIN deg d ON l.b = d.z
      JOIN sym r ON l.b = r.a
      WHERE l.a < r.b
    ),
    scored AS (
      SELECT a, b, CAST(SUM(contrib) AS BIGINT) AS ra_score,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM wedges GROUP BY a, b
    ),
    und_canon AS (
      SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM und
    )
    SELECT CAST(s.a AS BIGINT) AS node_a, CAST(s.b AS BIGINT) AS node_b,
           s.ra_score, s.common_neighbors
    FROM scored s ANTI JOIN und_canon u ON s.a = u.a AND s.b = u.b
    """


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment, exactly: with
    ``m`` the undirected edge count, ``e_c`` each community's intra
    edges and ``d_c`` its degree sum,
    ``Q = sum_c (e_c / m - (d_c / 2m)^2)``, emitted as the single-row
    ledger ``(n_communities, m_edges, q_ppm)`` where
    ``q_ppm = (10^6 * (4m * sum(e_c) - sum(d_c^2))) div (4m^2)`` —
    the quality gate for label-propagation / dedup-community output
    (is the clustering better than chance edge placement?).

    All-bigint: no float ratios, bit-exact vs the SQL oracle.  Shape:
    one label join per edge endpoint, two community-sized
    aggregations, one scalar reduce.
    """
    und = checkpoint(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    # labels feed three join branches (both edge endpoints + the degree
    # table); when they come from an ITERATIVE producer (label
    # propagation) the whole sweep subplan would re-execute per branch
    # without this node-sized checkpoint (plan lint: 20 shuffles).
    labels = checkpoint(labels)
    la = labels.select(
        F.col(node_col).alias("a"), F.col(label_col).alias("ca")
    )
    lb = labels.select(
        F.col(node_col).alias("b"), F.col(label_col).alias("cb")
    )
    tagged = und.join(la, "a").join(lb, "b")
    intra = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy("ca")
        .agg(F.count(F.lit(1)).alias("e_c"))
        .agg(F.sum("e_c").alias("sum_intra"))
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .join(labels.select(F.col(node_col).alias("v"), label_col), "v")
        .groupBy(label_col)
        .agg(F.sum("deg").alias("d_c"))
        .agg(
            # d_c^2 in decimal: a single community holding most of a
            # billion-edge graph's degree mass would overflow the int64
            # square
            F.sum(
                F.col("d_c").cast("decimal(38,0)") * F.col("d_c")
            ).alias("sum_deg_sq"),
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        )
    )
    # m_edges > 0 guard: an empty edge list must yield an EMPTY result
    # in both engines — without it Spark emits a NULL q_ppm row while
    # the DuckDB mirror raises division-by-zero (ADVICE r8).
    m = und.agg(F.count(F.lit(1)).alias("m_edges")).filter(
        F.col("m_edges") > 0
    )
    return (
        m.crossJoin(intra)
        .crossJoin(deg)
        .select(
            "n_communities",
            F.col("m_edges").cast("bigint").alias("m_edges"),
            # decimal(38,0) products: 10^6 * 4m * sum(e_c) overflows
            # int64 once m * intra passes ~2*10^12 (the r8b 30x sweep
            # hit it at 4M edges); decimal 38 holds to m ~ 3*10^14
            # edges, and `div` on decimals is exact integral division
            # in both engines (HUGEINT on the DuckDB side)
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0))"
                " * (4 * CAST(m_edges AS DECIMAL(38,0))"
                "    * coalesce(sum_intra, 0) - sum_deg_sq))"
                " div (4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges)"
            )
            .cast("bigint")
            .alias("q_ppm"),
        )
    )


def modularity_sql(edges_sql: str, labels_sql: str) -> str:
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    lab AS MATERIALIZED ({labels_sql}),
    intra AS (
      SELECT SUM(e_c) AS sum_intra FROM (
        SELECT la.label AS c, COUNT(*) AS e_c
        FROM und JOIN lab la ON und.a = la.node
                 JOIN lab lb ON und.b = lb.node
        WHERE la.label = lb.label GROUP BY 1
      )
    ),
    degs AS (
      SELECT SUM(d_c * d_c) AS sum_deg_sq,
             CAST(COUNT(*) AS BIGINT) AS n_communities
      FROM (
        SELECT l.label, CAST(SUM(d.deg) AS HUGEINT) AS d_c
        FROM (
          SELECT v, COUNT(*) AS deg FROM (
            SELECT a AS v FROM und UNION ALL SELECT b FROM und
          ) GROUP BY v
        ) d JOIN lab l ON d.v = l.node
        GROUP BY l.label
      )
    ),
    m AS (SELECT COUNT(*) AS m_edges FROM und HAVING COUNT(*) > 0)
    SELECT n_communities, CAST(m_edges AS BIGINT) AS m_edges,
           CAST((CAST(1000000 AS HUGEINT)
                 * (4 * CAST(m_edges AS HUGEINT) * COALESCE(sum_intra, 0)
                    - sum_deg_sq))
                // (4 * CAST(m_edges AS HUGEINT) * m_edges) AS BIGINT) AS q_ppm
    FROM m, intra, degs
    """


def degree_assortativity(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    positive for hub-to-hub topologies (social), negative for
    hub-to-leaf (web/dedup star clusters); the one-number topology
    fingerprint that decides salting strategy before a graph job.

    Integer moment sums (degrees are integers, the grouped-corr
    precedent), then ONE fixed double-op sequence mirrored verbatim in
    the oracle — float SUMS never cross engines, the final expression
    does.  Returns a single row ``(n_edge_ends, r_corr)``.
    """
    und = checkpoint(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    pairs = (
        sym.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("x")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("y")), "b")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_edge_ends"),
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
        ).alias("r_corr"),
    )


def degree_assortativity_sql(edges_sql: str) -> str:
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    sym AS MATERIALIZED (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS v, COUNT(*) AS deg FROM sym GROUP BY a),
    sums AS (
      SELECT COUNT(*) AS n, SUM(dx.deg) AS sx, SUM(dy.deg) AS sy,
             SUM(dx.deg * dy.deg) AS sxy,
             SUM(dx.deg * dx.deg) AS sxx, SUM(dy.deg * dy.deg) AS syy
      FROM sym JOIN deg dx ON sym.a = dx.v JOIN deg dy ON sym.b = dy.v
    )
    SELECT CAST(n AS BIGINT) AS n_edge_ends,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r_corr
    FROM sums
    """


def dag_layers(
    edges: DataFrame,
    n_sweeps: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Longest-path layering of a DAG (max-plus sweeps): ``layer(v)`` =
    length of the longest path ending at ``v`` among paths of <=
    ``n_sweeps`` edges — dependency depth / critical-path staging for
    lineage graphs and topological scheduling.  The max-plus dual of
    :func:`bfs_hops`; same frontier discipline, same unrolled-oracle
    exactness.  Feeding a cyclic graph makes "layer" the k-bounded
    longest walk — still deterministic, but use :func:`scc_labels` to
    collapse cycles first.
    """
    e = checkpoint(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    layer = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("layer", F.lit(0).cast("bigint"))
    )

    def sweep(layer: DataFrame) -> DataFrame:
        step = e.join(
            layer.select(F.col("node").alias("src"), "layer"), "src"
        ).select(F.col("dst").alias("node"), (F.col("layer") + 1).alias("layer"))
        return layer.union(step).groupBy("node").agg(F.max("layer").alias("layer"))

    # every node is present from the start and only its layer changes,
    # so the row count never moves and cannot signal a fixpoint
    layer = fixpoint(layer, sweep, n_sweeps)
    return layer.select(F.col("node").cast("bigint").alias("node"), "layer")


def dag_layers_sql(edges_sql: str, n_sweeps: int = 4) -> str:
    steps = [
        f"e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        """d0 AS (
          SELECT node, CAST(0 AS BIGINT) AS layer FROM (
            SELECT src AS node FROM e UNION SELECT dst FROM e
          )
        )""",
    ]
    prev = "d0"
    for i in range(1, n_sweeps + 1):
        steps.append(
            f"""d{i} AS (
              SELECT node, MAX(layer) AS layer FROM (
                SELECT node, layer FROM {prev}
                UNION ALL
                SELECT e.dst AS node, p.layer + 1 AS layer
                FROM e JOIN {prev} p ON e.src = p.node
              ) GROUP BY node
            )"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n".join(steps)
        + f"\nSELECT CAST(node AS BIGINT) AS node, CAST(layer AS BIGINT) AS layer FROM {prev}"
    )


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Local clustering coefficient per node, exact ppm:
    ``cc_ppm = 10^6 * triangles(v) div (deg(v) * (deg(v) - 1) / 2)``
    — the per-node "how clique-like is my neighborhood" score that
    separates near-duplicate COMMUNITIES (cc -> 1) from chain-shaped
    LSH false-positive paths (cc -> 0), the same triage the global
    triangle count cannot localize.

    Shape: canonicalize edges once, emit each node's neighbor WEDGES
    (x < y both adjacent to v) via one self-join of the symmetrized
    adjacency, then count wedges that close against the canonical
    edge set — one equi-join, no all-pairs anywhere.  Wedge count is
    sum(deg(v)^2), quadratic in HUB degree: ``max_degree`` drops
    super-hub centers (their cc is ~0 and each costs deg^2 wedges —
    at 100 TB the cap is the plan).  Capped nodes are REPORTED with
    ``triangles = NULL`` rather than silently dropped.  Degree-1
    nodes have no wedges and report ``cc_ppm = NULL``.
    """
    und = checkpoint(
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("v")).agg(F.count(F.lit(1)).alias("deg"))
    centers = deg if max_degree is None else deg.filter(F.col("deg") <= max_degree)
    # wedges x < y around center v (both neighbors of v)
    nb = sym.select(F.col("a").alias("v"), F.col("b").alias("n")).join(
        centers.select("v"), "v"
    )
    wedges = (
        nb.alias("l")
        .join(nb.alias("r"), "v")
        .filter(F.col("l.n") < F.col("r.n"))
        .select("v", F.col("l.n").alias("a"), F.col("r.n").alias("b"))
    )
    tri = wedges.join(und, ["a", "b"]).groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("triangles")
    )
    is_center = F.col("__c").isNotNull()
    return (
        deg.join(tri, "v", "left")
        .join(centers.select("v", F.lit(1).alias("__c")), "v", "left")
        .select(
            F.col("v").cast("bigint").alias("node"),
            F.col("deg").cast("bigint").alias("deg"),
            F.when(is_center, F.coalesce("triangles", F.lit(0)))
            .cast("bigint")
            .alias("triangles"),
            F.when(
                is_center & (F.col("deg") >= 2),
                # integer `div` twice, mirroring the oracle's `//`:
                # float `/` truncates differently across engines
                F.expr(
                    "(1000000 * coalesce(triangles, 0))"
                    " div ((deg * (deg - 1)) div 2)"
                ),
            )
            .cast("bigint")
            .alias("cc_ppm"),
        )
    )


def clustering_coefficient_sql(
    edges_sql: str, max_degree: int | None = None
) -> str:
    cap = f"WHERE deg <= {max_degree}" if max_degree is not None else ""
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM (SELECT src, dst FROM ({edges_sql})) WHERE src <> dst
    ),
    sym AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (SELECT a AS v, COUNT(*) AS deg FROM sym GROUP BY a),
    centers AS (SELECT v FROM deg {cap}),
    nb AS (
      SELECT sym.a AS v, sym.b AS n FROM sym JOIN centers c ON sym.a = c.v
    ),
    tri AS (
      SELECT l.v, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM nb l JOIN nb r ON l.v = r.v AND l.n < r.n
      JOIN und u ON l.n = u.a AND r.n = u.b
      GROUP BY l.v
    )
    SELECT CAST(d.v AS BIGINT) AS node, CAST(d.deg AS BIGINT) AS deg,
           CASE WHEN c.v IS NOT NULL
                THEN CAST(COALESCE(t.triangles, 0) AS BIGINT) END AS triangles,
           CASE WHEN c.v IS NOT NULL AND d.deg >= 2
                THEN CAST(1000000 * COALESCE(t.triangles, 0)
                          // (d.deg * (d.deg - 1) // 2) AS BIGINT)
           END AS cc_ppm
    FROM deg d LEFT JOIN tri t ON d.v = t.v
    LEFT JOIN centers c ON d.v = c.v
    """


def _probe_distances(
    edges: DataFrame,
    seeds: DataFrame,
    n_hops: int,
    src_col: str,
    dst_col: str,
    node_col: str,
) -> DataFrame:
    """``(s, node, hops)``: the min undirected hop count from each probe
    seed ``s`` to every node it reaches within ``n_hops`` — one BFS per
    probe, run simultaneously over one shared edge checkpoint. The
    reached (probe, node) set only grows and min-hops are exact on first
    appearance, so the state is grow-only."""
    e = _sym_undirected_ckpt(edges, src_col, dst_col)

    def hop(dist: DataFrame) -> DataFrame:
        step = e.join(
            dist.select("s", F.col("node").alias("b"), "hops"), "b"
        ).select("s", F.col("a").alias("node"), (F.col("hops") + 1).alias("hops"))
        return dist.union(step).groupBy("s", "node").agg(F.min("hops").alias("hops"))

    dist = (
        seeds.select(F.col(node_col).alias("s"))
        .distinct()
        .select("s", F.col("s").alias("node"), F.lit(0).cast("bigint").alias("hops"))
    )
    return fixpoint(dist, hop, n_hops, F.count(F.lit(1)))


def eccentricity_probes(
    edges: DataFrame,
    seeds: DataFrame,
    n_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Multi-PROBE eccentricity profile: run one BFS per probe seed
    simultaneously (state keyed by (probe, node)) and report, per
    reached node, how many probes reached it, its max probe distance
    (an eccentricity LOWER BOUND — the standard iFUB/diameter-probe
    primitive) and its min probe distance (distance-to-nearest-hub
    when the probes are hubs).

    Same frontier discipline as :func:`bfs_hops`; state is
    O(probes x reached nodes) — probes are a small fixed panel (4-16),
    so the multiplier is a constant, and one shared edge checkpoint
    serves every probe.  Bit-exact vs the unrolled SQL oracle for
    fixed ``n_hops``.
    """
    dist = _probe_distances(edges, seeds, n_hops, src_col, dst_col, node_col)
    return dist.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.max("hops").cast("bigint").alias("ecc_lb"),
        F.min("hops").cast("bigint").alias("nearest_probe_hops"),
    ).select(F.col("node").cast("bigint").alias("node"), "n_probes", "ecc_lb", "nearest_probe_hops")


def eccentricity_probes_sql(edges_sql: str, seeds_sql: str, n_hops: int) -> str:
    steps = [
        f"raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        """e AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM raw
          UNION
          SELECT dst, src FROM raw
        )""",
        f"""d0 AS (
          SELECT DISTINCT node AS s, node, CAST(0 AS BIGINT) AS hops
          FROM ({seeds_sql})
        )""",
    ]
    prev = "d0"
    for i in range(1, n_hops + 1):
        steps.append(
            f"""d{i} AS (
              SELECT s, node, MIN(hops) AS hops FROM (
                SELECT s, node, hops FROM {prev}
                UNION ALL
                SELECT p.s, e.a AS node, p.hops + 1 AS hops
                FROM e JOIN {prev} p ON e.b = p.node
              ) GROUP BY s, node
            )"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(MAX(hops) AS BIGINT) AS ecc_lb,
           CAST(MIN(hops) AS BIGINT) AS nearest_probe_hops
    FROM {prev} GROUP BY node"""
    )


def harmonic_centrality_probes(
    edges: DataFrame,
    seeds: DataFrame,
    n_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Probe-panel harmonic centrality (Boldi & Vigna 2014, "Axioms
    for centrality" — the closeness variant that handles disconnected
    graphs, estimated exactly the way HyperBall does it at web scale:
    from a fixed seed panel rather than all-pairs): per reached node,
    ``harmonic_milli = sum over probes of 1e6 div d(probe, node)``
    over the probes that reached it within ``n_hops`` (self-distance 0
    excluded).  Scaling by ``n_nodes / n_probes`` turns the panel sum
    into the classic estimator; the output keeps the raw integer sum
    so the result is bit-exact cross-engine (the repo-wide div rule).

    Same simultaneous-BFS frontier as :func:`eccentricity_probes`
    (state keyed by (probe, node), one shared edge checkpoint, min-hop
    merge per sweep); only the final aggregation differs.  Bit-exact
    vs the unrolled SQL oracle for fixed ``n_hops``.
    """
    dist = _probe_distances(edges, seeds, n_hops, src_col, dst_col, node_col)
    return (
        dist.filter(F.col("hops") >= 1)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes_reached"),
            F.sum(F.expr("1000000 DIV hops")).cast("bigint").alias("harmonic_milli"),
        )
        .select(
            F.col("node").cast("bigint").alias("node"),
            "n_probes_reached",
            "harmonic_milli",
        )
    )


def harmonic_centrality_probes_sql(
    edges_sql: str, seeds_sql: str, n_hops: int
) -> str:
    """DuckDB mirror — the eccentricity-probes unrolled closure with
    the harmonic final aggregation."""
    steps = [
        f"raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) WHERE src <> dst)",
        """e AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM raw
          UNION
          SELECT dst, src FROM raw
        )""",
        f"""d0 AS (
          SELECT DISTINCT node AS s, node, CAST(0 AS BIGINT) AS hops
          FROM ({seeds_sql})
        )""",
    ]
    prev = "d0"
    for i in range(1, n_hops + 1):
        steps.append(
            f"""d{i} AS (
              SELECT s, node, MIN(hops) AS hops FROM (
                SELECT s, node, hops FROM {prev}
                UNION ALL
                SELECT p.s, e.a AS node, p.hops + 1 AS hops
                FROM e JOIN {prev} p ON e.b = p.node
              ) GROUP BY s, node
            )"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_probes_reached,
           CAST(SUM(1000000 // hops) AS BIGINT) AS harmonic_milli
    FROM {prev} WHERE hops >= 1 GROUP BY node"""
    )


def jaccard_link_prediction(
    edges: DataFrame,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Link prediction by neighbor-set Jaccard (Liben-Nowell &
    Kleinberg 2003's strongest simple index alongside RA): for every
    non-adjacent pair (a, b) with at least one common neighbor,
    ``jaccard_ppm = 1e6 * |N(a) ∩ N(b)| div (deg(a) + deg(b) -
    |N(a) ∩ N(b)|)`` — exact integer, bit-identical cross-engine.

    Shares :func:`resource_allocation_link_prediction`'s wedge
    discipline: common neighbors come from ONE middle-node equi-join
    with the same ``max_degree`` hub cap (sum(deg^2) is the wedge
    count; capped middles are what survives at 100 TB), so under the
    cap the intersection count — and therefore the score — is over
    CAP-SURVIVING common neighbors only (lower bound; same contract
    as RA's dropped-hub contributions).  Endpoint degrees are TRUE
    degrees, attached by two equi-joins on the vocabulary-bounded
    degree table.  Non-adjacency via anti-join on the canonicalized
    edge set (the ADVICE-r8 orientation rule).
    """
    # canonicalize BEFORE the distinct (least/greatest, the ADVICE-r8
    # orientation rule): an edge present as both (3,7) and (7,3) must
    # collapse to ONE undirected edge, or sym double-counts it and
    # every degree/common-neighbor stat drifts by the duplicate count
    und = checkpoint(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg_all = sym.groupBy(F.col("a").alias("z")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    mid = deg_all
    if max_degree is not None:
        mid = deg_all.filter(F.col("deg") <= max_degree)
    half = sym.select(F.col("a"), F.col("b").alias("z")).join(
        mid.select("z"), "z"
    )
    common = (
        half.alias("l")
        .join(
            sym.select(F.col("a").alias("z"), F.col("b")).alias("r"),
            F.col("l.z") == F.col("r.z"),
        )
        .filter(F.col("l.a") < F.col("r.b"))
        .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    return (
        common.join(und, ["a", "b"], "left_anti")
        .join(deg_all.select(F.col("z").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg_all.select(F.col("z").alias("b"), F.col("deg").alias("deg_b")), "b")
        .select(
            F.col("a").cast("bigint").alias("node_a"),
            F.col("b").cast("bigint").alias("node_b"),
            F.col("cn").alias("common_neighbors"),
            F.expr("1000000 * cn DIV (deg_a + deg_b - cn)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
    )


def jaccard_link_prediction_sql(
    edges_sql: str, max_degree: int | None = None
) -> str:
    cap = f"WHERE deg <= {max_degree}" if max_degree is not None else ""
    return f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    sym AS MATERIALIZED (
      SELECT a, b FROM und UNION ALL SELECT b, a FROM und
    ),
    deg_all AS MATERIALIZED (
      SELECT a AS z, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY a
    ),
    mid AS (SELECT z FROM deg_all {cap}),
    common AS (
      SELECT l.a, r.b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM sym l JOIN mid m ON l.b = m.z
      JOIN sym r ON l.b = r.a
      WHERE l.a < r.b
      GROUP BY l.a, r.b
    )
    SELECT CAST(c.a AS BIGINT) AS node_a, CAST(c.b AS BIGINT) AS node_b,
           c.cn AS common_neighbors,
           CAST(1000000 * c.cn // (da.deg + db.deg - c.cn) AS BIGINT)
             AS jaccard_ppm
    FROM common c
    ANTI JOIN und u ON c.a = u.a AND c.b = u.b
    JOIN deg_all da ON c.a = da.z
    JOIN deg_all db ON c.b = db.z
    """

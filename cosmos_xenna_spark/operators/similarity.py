"""Embedding similarity search (ANN) over an array<float> column.

``cosine_topk_bruteforce`` — exact top-k by cosine: broadcast the query
set against the candidate table. At 100 TB the candidate side stays
partitioned and only the (small) query side is broadcast, so this is a
map-side join followed by a per-query top-k window — one shuffle on
query_id.

``ivf_topk`` — the scale path: an IVF-style coarse quantizer. Centroids
are per-cluster means (decimal-exact so they are reproducible across
engines/runs); each query probes only the ``n_probe`` nearest clusters,
cutting the scanned candidates by ~n_clusters/n_probe. The cluster id
column here is the existing ``label``; in production it would come from
k-means (same plumbing).

All dot products are computed left-to-right in double precision
(``F.aggregate``), which matches DuckDB's ``list_dot_product`` /
``list_cosine_similarity`` over DOUBLE[] bit-for-bit — so even the
float scores are oracle-comparable exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint


def _as_double(col) -> Column:
    return F.transform(col if isinstance(col, Column) else F.col(col), lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Left-to-right double dot product of two array columns."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_as_double(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_bruteforce(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query: (query_id, neighbor_id,
    rank, sim). Excludes self-matches. Queries are broadcast."""
    # Norms are precomputed per side BEFORE the pair join: cosine()
    # inline would recompute each query's norm once per candidate and
    # each candidate's norm once per query — redundant O(dim) work per
    # pair. Same arithmetic, so scores stay bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
    )
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        (dot("__qvec", "__cvec") / (F.col("__qnorm") * F.col("__cnorm"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cluster_centroids(
    candidates: DataFrame,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 12,
    dim: int | None = None,
) -> DataFrame:
    """Per-cluster mean vectors, decimal-exact (order-independent):
    (cluster, centroid: array<double>).

    Decimal sums make the centroid identical regardless of partitioning
    — required for reproducible probe selection (and oracle parity).

    ``dim`` may be passed explicitly; otherwise it is inferred from the
    data with a min==max dimension check — ragged vectors would
    otherwise silently drop rows from the per-dimension sums (element_at
    past the end is NULL) and skew the centroids without any error.
    """
    if dim is None:
        bounds = candidates.agg(
            F.min(F.size(vec_col)).alias("lo"), F.max(F.size(vec_col)).alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:
            raise ValueError(
                "cluster_centroids: candidates DataFrame is empty — "
                "cannot infer the embedding dimension (pass dim=...)"
            )
        if bounds["lo"] != bounds["hi"]:
            raise ValueError(
                f"cluster_centroids: ragged embedding column {vec_col!r} "
                f"(sizes {bounds['lo']}..{bounds['hi']}); fix the data or "
                "pass dim= explicitly"
            )
        dim = bounds["lo"]
    dec_t = f"decimal(28,{scale})"
    sums = candidates.groupBy(F.col(cluster_col).alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at(F.col(vec_col), i + 1).cast(dec_t)).alias(f"s{i}")
            for i in range(dim)
        ],
    )
    centroid = F.array(*[(F.col(f"s{i}").cast("double") / F.col("n")) for i in range(dim)])
    return sums.select("cluster", centroid.alias("centroid"))


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """IVF approximate top-k: probe the n_probe clusters whose centroids
    are nearest (by cosine) to each query, then exact top-k within them.

    Output: (query_id, neighbor_id, rank, sim).
    """
    cents = cluster_centroids(candidates, cluster_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm(vec_col).alias("__qnorm"),
    )

    probe_w = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("cluster"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "__qvec",
            "__qnorm",
            "cluster",
            cosine("__qvec", "centroid").alias("c_sim"),
        )
        .withColumn("c_rank", F.row_number().over(probe_w))
        .filter(F.col("c_rank") <= n_probe)
        .select("query_id", "__qvec", "__qnorm", "cluster")
    )
    # candidate norms precomputed once per row, not once per probe pair
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cluster_col).alias("cluster"),
        F.col(vec_col).alias("__cvec"),
        norm(vec_col).alias("__cnorm"),
    )
    scored = c.join(F.broadcast(probes), "cluster").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            (dot("__qvec", "__cvec") / (F.col("__qnorm") * F.col("__cnorm"))).alias(
                "sim"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def embedding_near_dup_pairs(
    candidates: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (keep_id, dup_id, sim)
    with sim >= threshold, keep_id < dup_id (canonical survivor = the
    lower id).

    Blocking on ``block_col`` (a cluster/LSH-bucket id) turns the
    all-pairs O(n^2) comparison into one equi-join shuffle keyed by
    block — O(sum n_b^2) work, which is the only shape that survives
    100 TB. In production the block key comes from k-means
    (``operators.clustering.kmeans_fit_assign``) or LSH over the same
    column; here it is the table's cluster label. Blocks larger than
    ``max_block_size`` raise before launching the quadratic join.
    """
    from cosmos_xenna_spark.operators.dedup import _guard_block_cardinality

    _guard_block_cardinality(
        candidates.select(F.col(block_col).alias("__blk")),
        ["__blk"],
        max_block_size,
        "embedding_near_dup_pairs",
    )
    a = candidates.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("keep_id"),
        F.col(vec_col).alias("__va"),
        norm(vec_col).alias("__na"),
    )
    b = candidates.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("dup_id"),
        F.col(vec_col).alias("__vb"),
        norm(vec_col).alias("__nb"),
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("keep_id") < F.col("dup_id"))
        .select(
            "keep_id",
            "dup_id",
            (dot("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def semantic_dedup_keep(
    candidates: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic dedup: drop every vector whose cosine
    similarity to a LOWER-id vector in the same block reaches
    ``threshold``; return the kept subset of ``candidates`` (all
    original columns).

    "Keep the lowest id of each near-dup star" is the deterministic
    greedy survivor rule (no iterative clustering needed): a row is
    dropped iff it appears as ``dup_id`` in any near-dup pair, which is
    exactly one distinct-project away from
    :func:`embedding_near_dup_pairs`. The anti-join's right side is
    only the dropped ids — small at any realistic dup rate, so AQE can
    broadcast it.
    """
    dups = (
        embedding_near_dup_pairs(
            candidates, threshold, block_col, id_col, vec_col, max_block_size
        )
        .select(F.col("dup_id").alias(id_col))
        .distinct()
    )
    return candidates.join(dups, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SRP-LSH: random-hyperplane signatures for cosine ANN
# ---------------------------------------------------------------------------

# LCG constants (glibc rand): the hyperplanes are a deterministic
# function of (plane, dim-index), reproducible in any engine without
# shipping state.
_SRP_A, _SRP_C, _SRP_M = 1103515245, 12345, 2**31


def srp_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: integer-valued
    coefficients in [-2^30, 2^30) from an LCG over (plane, index).
    Integer-valued doubles keep every product exactly representable,
    so the sign of the dot product is engine-independent."""
    return [
        [
            float(((_SRP_A * (p * dim + i) + _SRP_C) % _SRP_M) - _SRP_M // 2)
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_lsh_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Sign-random-projection LSH signature per vector: bit ``p`` of
    ``signature`` is 1 iff ``dot(vec, plane_p) >= 0``.  Vectors with
    equal signatures land in the same cosine bucket (the scale path
    for near-neighbor candidate generation alongside :func:`ivf_topk`).

    Entirely row-local — zero shuffles, pushdown-friendly; the
    ``n_planes`` hyperplanes ride the plan as array literals
    (``n_planes * dim`` doubles, bytes not megabytes).  Dot products
    are left-to-right double folds, the module's cross-engine-exact
    convention.
    """
    return df.select(
        F.col(id_col), srp_signature_col(vec_col, n_planes, dim).alias("signature")
    )


def srp_signature_col(vec_col: str, n_planes: int = 16, dim: int = 64) -> Column:
    """The SRP signature as a column expression (row-local).

    Dot products stay as HOF folds (the module's list_dot_product-
    parity convention). A flat unrolled add-chain of element_at *
    constant terms was tried and measured 3x SLOWER at 16x64: the
    ~4k-node projection blows the JVM codegen method budget and
    falls back to per-expression interpretation, which loses to the
    HOF evaluator's tight array loop.
    """
    if n_planes < 1 or n_planes > 62:
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    sig = F.lit(0).cast("bigint")
    for p, plane in enumerate(srp_planes(n_planes, dim)):
        bit = (dot(F.col(vec_col), F.lit(plane)) >= 0).cast("bigint")
        sig = sig + bit * F.lit(1 << p).cast("bigint")
    return sig


def srp_lsh_signatures_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB mirror: ``list_dot_product`` against the same literal
    hyperplanes (identical left-to-right double accumulation)."""
    bits = []
    for p, plane in enumerate(srp_planes(n_planes, dim)):
        arr = "[" + ", ".join(repr(c) for c in plane) + "]"
        bits.append(
            f"(CASE WHEN list_dot_product(CAST({vec_col} AS DOUBLE[]), "
            f"CAST({arr} AS DOUBLE[])) >= 0 THEN CAST({1 << p} AS BIGINT) "
            f"ELSE 0 END)"
        )
    sig = " + ".join(bits)
    return f"SELECT {id_col}, CAST({sig} AS BIGINT) AS signature FROM {table}"


def semantic_dedup_srp(
    candidates: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Label-free semantic dedup: SRP signatures ARE the blocks.

    :func:`semantic_dedup_keep` needs a cluster column to bound the
    pair join; at 100 TB a clustering pass may not exist. SRP bucketing
    is row-local (zero extra shuffles) and deterministic, so the block
    structure is reproducible — and mirrorable by a SQL oracle, which
    verifies the approximate algorithm exactly. Recall is the standard
    single-table SRP tradeoff: only same-signature near-dups are
    dropped (raise recall with fewer planes / multiple tables).
    """
    tagged = candidates.withColumn(
        "__srp_block", srp_signature_col(vec_col, n_planes, dim)
    )
    return semantic_dedup_keep(
        tagged, threshold, block_col="__srp_block", id_col=id_col,
        vec_col=vec_col, max_block_size=max_block_size,
    ).drop("__srp_block")


def mutual_nearest_pairs(candidates: DataFrame) -> DataFrame:
    """Reciprocal-best-match reduction: from a scored candidate-pair
    table ``(id_a, id_b, sim)`` (undirected, one orientation per
    pair), keep exactly the pairs where each side is the other's
    single best match — the high-precision linkage rule for entity
    resolution and cross-lingual/bitext mining (a match that is
    best-in-BOTH-directions survives; hub vectors that are "best" for
    many probes but prefer someone else are cut).

    Composable with any candidate generator: brute-force all-pairs for
    a bounded set, LSH/IVF candidates at scale — the reduction itself
    is one symmetrization, one (id, sim desc) window for top-1, and
    one self-join of the top-1 table against itself.

    Ties on ``sim`` break toward the smaller partner id
    (deterministic).  Returns ``(id_a, id_b, sim)``, ``id_a < id_b``.

    Scale shape: the window partitions on the id (fine-grained); the
    mutual check joins the id-count-sized top-1 table to itself on the
    partner id — no quadratic step beyond the candidate input.
    """
    sym = candidates.select("id_a", "id_b", "sim").unionByName(
        candidates.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "sim"
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("sim"), F.asc("id_b"))
    top1 = (
        sym.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("id_a").alias("id"), F.col("id_b").alias("best"), "sim")
    )
    other = top1.select(F.col("id").alias("o_id"), F.col("best").alias("o_best"))
    return (
        top1.join(
            other,
            (F.col("best") == F.col("o_id")) & (F.col("o_best") == F.col("id")),
        )
        .filter(F.col("id") < F.col("best"))
        .select(F.col("id").alias("id_a"), F.col("best").alias("id_b"), "sim")
    )


def mutual_nearest_pairs_sql(candidates_sql: str) -> str:
    """DuckDB mirror over the same candidate relation."""
    return f"""
    WITH cand AS ({candidates_sql}),
    sym AS (
      SELECT id_a, id_b, sim FROM cand
      UNION ALL SELECT id_b, id_a, sim FROM cand
    ),
    top1 AS (
      SELECT id_a AS id, id_b AS best, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY id_a
                                     ORDER BY sim DESC, id_b) AS rn
        FROM sym
      ) WHERE rn = 1
    )
    SELECT a.id AS id_a, a.best AS id_b, a.sim
    FROM top1 a JOIN top1 b ON a.best = b.id AND b.best = a.id
    WHERE a.id < a.best
    """


def quantize_embeddings_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per vector,
    ``code[i] = floor(x[i] * 127 / max_abs)`` — the 4x memory / SIMD
    dot-product compression step every billion-vector ANN index takes
    before sharding (the PQ ladder's cheap sibling: no codebook, no
    training, ~0.3% recall cost in practice).

    Deterministic cross-engine: elements widen float->double exactly,
    one IEEE multiply+divide, ``floor`` (not round — round-half rules
    differ across engines).  Zero vectors emit an all-zero code.
    Emits ``(id, codes array<tinyint-range bigint>, n_dims,
    max_abs_milli)`` — the scale rides along as floor(1000*max_abs)
    so downstream can dequantize without floats in the contract.
    Row-local: no shuffle at all; the plan is the scan.
    """
    max_abs = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    codes = F.when(max_abs > 0, F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 127.0 / max_abs).cast("bigint"),
    )).otherwise(
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("bigint"))
    )
    return emb.select(
        F.col(id_col),
        codes.alias("codes"),
        F.size(vec_col).cast("bigint").alias("n_dims"),
        F.floor(max_abs * 1000).cast("bigint").alias("max_abs_milli"),
    )


def quantize_embeddings_int8_sql(
    table_sql: str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    return f"""
    WITH base AS (
      SELECT {id_col},
             list_max(list_transform({vec_col},
                      x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
             {vec_col} AS v
      FROM ({table_sql})
    )
    SELECT {id_col},
           CASE WHEN max_abs > 0
                THEN list_transform(v,
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / max_abs)
                          AS BIGINT))
                ELSE list_transform(v, x -> CAST(0 AS BIGINT))
           END AS codes,
           CAST(len(v) AS BIGINT) AS n_dims,
           CAST(FLOOR(max_abs * 1000) AS BIGINT) AS max_abs_milli
    FROM base
    """


def centroid_outliers(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Noisy-label screen: the ``k`` vectors FARTHEST from their own
    label's centroid, per label — the SemDeDup-family curation step
    that surfaces mislabeled / out-of-distribution samples before a
    cluster-blocked dedup or an IVF index trusts the labels.

    Exactness recipe (the :func:`q_label_centroids` fixed-point rule,
    extended to distances): dimensions quantize to ``floor(x * 1e6)``
    BIGINT; the centroid is re-quantized to the same grid with
    ``FLOOR(sum / n)`` (one IEEE divide both engines perform
    identically — sums stay under 2^53 by construction at 1e-6 scale),
    so the squared distance is an exact BIGINT sum (per-term products
    <= ~5.8e12, far under the 9.2e18 overflow line at any corpus
    size).

    Plan: one exchange on (label, dim) serves BOTH centroid moments as
    window aggregates over the exploded frame (no centroid-table
    join-back — the agg + join-back on the same key collapse), then
    one (label, id) aggregation and a per-label top-k window.  Output
    is ``k * n_labels`` rows.
    """
    dims = emb.select(
        F.col(label_col).cast("bigint").alias("label"),
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x"),
    ).select(
        "label",
        "vid",
        (F.col("__pos") + 1).cast("bigint").alias("dim"),
        F.floor(F.col("__x") * F.lit(1000000.0)).cast("bigint").alias("x_fp"),
    )
    w = Window.partitionBy("label", "dim")
    diff = F.col("x_fp") - F.floor(
        F.sum("x_fp").over(w) / F.count(F.lit(1)).over(w)
    ).cast("bigint")
    per_id = (
        dims.withColumn("__t", diff * diff)
        .groupBy("label", "vid")
        .agg(F.sum("__t").cast("bigint").alias("dist2_fp"))
    )
    rk = Window.partitionBy("label").orderBy(F.desc("dist2_fp"), F.asc("vid"))
    return (
        per_id.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("label", F.col("vid").alias(id_col), "rank", "dist2_fp")
    )


def centroid_outliers_sql(
    table_sql: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    """DuckDB mirror of :func:`centroid_outliers` — identical
    quantization, centroid re-quantization, integer distance, and
    tie-break."""
    return f"""
    WITH dims AS (
      SELECT CAST({label_col} AS BIGINT) AS label, {id_col} AS vid,
             CAST(d.i AS BIGINT) AS dim,
             CAST(FLOOR(d.x * 1000000.0) AS BIGINT) AS x_fp
      FROM (SELECT {label_col}, {id_col}, CAST({vec_col} AS DOUBLE[]) AS e
            FROM ({table_sql})),
           LATERAL (SELECT UNNEST(e) AS x, generate_subscripts(e, 1) AS i) d
    ),
    cstat AS (
      SELECT label, vid,
             x_fp - CAST(FLOOR(CAST(SUM(x_fp) OVER (PARTITION BY label, dim)
                                    AS BIGINT)
                               / COUNT(*) OVER (PARTITION BY label, dim))
                         AS BIGINT) AS diff
      FROM dims
    ),
    per_id AS (
      SELECT label, vid, CAST(SUM(diff * diff) AS BIGINT) AS dist2_fp
      FROM cstat GROUP BY label, vid
    )
    SELECT label, vid AS {id_col}, CAST(rank AS BIGINT) AS rank, dist2_fp FROM (
      SELECT label, vid, dist2_fp,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2_fp DESC, vid) AS rank
      FROM per_id
    ) WHERE rank <= {k}
    """


def embedding_dim_variance(
    emb: DataFrame,
    vec_col: str = "embedding",
    grid: int = 1000,
) -> DataFrame:
    """Per-dimension variance profile of an embedding column — the
    "which dimensions carry signal" readout behind truncation /
    matryoshka decisions and PCA-lite dimensionality audits: for each
    dimension, exact integer moments over the ``floor(x * grid)``
    quantized values (the label-centroids fixed-point convention —
    float sums are banned in cross-engine aggregates) yield
    ``mean_q_milli`` (mean in milli-grid-units) and ``var_q`` (the
    population variance numerator ``n*Sxx - Sx^2`` over ``n^2``, in
    grid-units squared), plus the variance rank across dimensions.

    Scale shape: one posexplode + map-side-combined groupBy to DIM
    rows (64 here), moments in DECIMAL(38) (the CUPED convention —
    exact to ~1e9 rows at |x| <= 1 before the documented overflow
    line); the rank window runs on the DIM-row frame only.
    """
    dims = emb.select(
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * float(grid)).cast("bigint"),
            )
        ).alias("dim", "q")
    )
    mom = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("q").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("q") * F.col("q")).cast("decimal(38,0)").alias("sxx"),
    )
    return mom.selectExpr(
        "CAST(dim AS BIGINT) AS dim",
        "CAST(n AS BIGINT) AS n",
        "CAST(1000 * sx DIV n AS BIGINT) AS mean_q_milli",
        "CAST((n * sxx - sx * sx) DIV (n * n) AS BIGINT) AS var_q",
    ).selectExpr(
        "*",
        "CAST(row_number() OVER (ORDER BY var_q DESC, dim) AS BIGINT)"
        " AS var_rank",
    )


def embedding_dim_variance_sql(
    table_sql: str, vec_col: str = "embedding", grid: int = 1000
) -> str:
    """DuckDB mirror — generate_subscripts + UNNEST for posexplode
    (0-based to match; this DuckDB lacks WITH ORDINALITY), HUGEINT
    moments (``//`` on HUGEINT truncates like Spark's decimal DIV;
    on DECIMAL operands DuckDB's ``//`` ROUNDS — the cuped_moments
    convention)."""
    return f"""
    WITH dims AS (
      SELECT generate_subscripts({vec_col}, 1) - 1 AS dim,
             CAST(FLOOR(CAST(UNNEST({vec_col}) AS DOUBLE) * {grid}.0)
                  AS BIGINT) AS q
      FROM ({table_sql})
    ),
    mom AS (
      SELECT dim,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(q) AS HUGEINT) AS sx,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sxx
      FROM dims GROUP BY dim
    )
    SELECT *,
           CAST(row_number() OVER (ORDER BY var_q DESC, dim) AS BIGINT)
             AS var_rank
    FROM (
      SELECT CAST(dim AS BIGINT) AS dim,
             CAST(n AS BIGINT) AS n,
             CAST(1000 * sx // n AS BIGINT) AS mean_q_milli,
             CAST((n * sxx - sx * sx) // (n * n) AS BIGINT) AS var_q
      FROM mom
    )
    """


def truncation_recall(
    emb: DataFrame,
    dims: tuple[int, ...] = (8, 16, 64),
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1000,
) -> DataFrame:
    """Matryoshka/truncation quality eval: for each probe vector and
    each prefix length d, the top-k neighbors by integer dot product
    over the first d quantized dimensions, scored against the full-
    dimension top-k — ``(query_id, d, hits, recall_ppm)``. The
    measurement behind "can we serve the ANN index at d=16 of 64"
    (Kusupati et al., Matryoshka Representation Learning).

    Exactness: values quantize to ``floor(x*grid)`` ints; a 64-term
    integer dot stays under 2^53, so scores are exact and ranking
    (score DESC, neighbor_id) is deterministic on both engines. The
    full-dimension ranking is the baseline; recall = |topk_d ∩
    topk_full| / k in exact ppm.

    Scale shape: probes × prefix-lengths broadcast (|dims| * n_queries
    rows) against the corpus — one scored pass, top-k per (query, d)
    window on corpus-sized partitions, then a k-row equi-join per
    (query, d) for the hit count. Never an all-pairs join.
    """
    maxd = max(dims)
    qv = F.transform(
        F.slice(F.col(vec_col), 1, maxd),
        lambda x: F.floor(x.cast("double") * float(grid)).cast("bigint"),
    )
    base = emb.select(F.col(id_col).alias("__id"), qv.alias("__q"))
    probes = base.filter(F.col("__id") < n_queries).select(
        F.col("__id").alias("query_id"), F.col("__q").alias("__pq")
    )
    spark = emb.sparkSession
    dframe = spark.createDataFrame([(int(d),) for d in dims], "d long")
    probes_d = probes.crossJoin(F.broadcast(dframe))
    scored = base.join(
        F.broadcast(probes_d), F.col("__id") != F.col("query_id")
    ).select(
        "query_id",
        "d",
        F.col("__id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(
                F.slice("__q", F.lit(1), F.col("d").cast("int")),
                F.slice("__pq", F.lit(1), F.col("d").cast("int")),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id", "d").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    topk = checkpoint(
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("query_id", "d", "neighbor_id")
    )
    full = topk.filter(F.col("d") == maxd).select(
        F.col("query_id").alias("__full_q"),
        F.col("neighbor_id").alias("__full_nb"),
    )
    # LEFT join: a (query, d) whose truncated top-k shares nothing
    # with the full-dimension top-k must still report hits = 0 —
    # zero recall is the finding, not a missing row.
    hits = (
        topk.join(
            full,
            (F.col("query_id") == F.col("__full_q"))
            & (F.col("neighbor_id") == F.col("__full_nb")),
            "left",
        )
        .groupBy("query_id", "d")
        .agg(
            F.sum(F.when(F.col("__full_nb").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("hits")
        )
    )
    return hits.selectExpr(
        "query_id",
        "d",
        "hits",
        f"CAST(1000000 * hits DIV {k} AS BIGINT) AS recall_ppm",
    )


def truncation_recall_sql(
    table_sql: str,
    dims: tuple[int, ...] = (8, 16, 64),
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    grid: int = 1000,
) -> str:
    """DuckDB mirror — identical quantization, integer dot via
    list_dot_product on exact-integer doubles (64 terms of |q| <= grid
    stay far under 2^53), the same deterministic ranking."""
    maxd = max(dims)
    dvals = ", ".join(f"({int(d)})" for d in dims)
    return f"""
    WITH base AS (
      SELECT {id_col} AS id,
             list_transform({vec_col}[1:{maxd}],
                 x -> FLOOR(CAST(x AS DOUBLE) * {grid}.0)) AS q
      FROM ({table_sql})
    ),
    dlist(d) AS (VALUES {dvals}),
    probes AS (
      SELECT id AS query_id, q AS pq FROM base WHERE id < {n_queries}
    ),
    scored AS (
      SELECT p.query_id, d.d, b.id AS neighbor_id,
             CAST(list_dot_product(b.q[1:CAST(d.d AS INTEGER)],
                                   p.pq[1:CAST(d.d AS INTEGER)])
                  AS BIGINT) AS score
      FROM base b, probes p, dlist d
      WHERE b.id <> p.query_id
    ),
    topk AS (
      SELECT query_id, d, neighbor_id FROM (
        SELECT query_id, d, neighbor_id,
               row_number() OVER (PARTITION BY query_id, d
                                  ORDER BY score DESC, neighbor_id) AS r
        FROM scored
      ) WHERE r <= {k}
    ),
    full_k AS (
      SELECT query_id, neighbor_id FROM topk WHERE d = {maxd}
    )
    SELECT t.query_id, CAST(t.d AS BIGINT) AS d,
           CAST(SUM(CASE WHEN f.neighbor_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS hits,
           CAST(1000000 * SUM(CASE WHEN f.neighbor_id IS NULL
                              THEN 0 ELSE 1 END) // {k} AS BIGINT)
             AS recall_ppm
    FROM topk t LEFT JOIN full_k f
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY t.query_id, t.d
    """

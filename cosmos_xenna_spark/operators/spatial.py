"""Spatial grid operators: cell-bucketed radius joins and hotspots.

The canonical scalable treatment of point-proximity workloads (the
GeoSpark / Apache Sedona partitioning strategy, itself the spatial
instance of the LSH-band pattern used across this repo's dedup
family): snap every point to a fixed integer grid whose cell edge
equals the query radius, shuffle ONCE keyed by cell, and generate
candidate pairs only between a cell and its 3x3 neighborhood — the
all-pairs quadratic never materializes, and the per-task working set
is bounded by local point density, not corpus size.

Everything here is exact integer arithmetic on micro-degree (or any
integer-unit) coordinates: squared Euclidean distance against a
squared radius, counts, and ppm ratios — engine-exact against the
DuckDB mirrors, no floats anywhere.

At 100 TB: one hash shuffle on the 8-byte cell key; the 9x candidate
fan-out happens AFTER the shuffle (explode on the anchor side only);
skew is bounded by physical point density per cell (pick the cell
edge ~ the radius; re-grid, don't re-shuffle, for hot regions).
The per-cell OUTPUT frame is bounded by the grid geometry, never by
the corpus.

Reference parity: the reference ships no spatial operators (its
pipelines treat geo fields as opaque payload, reference
``cosmos_xenna/pipelines/v1/__init__.py`` — stage payloads are
user-defined); this family covers the proximity-dedup /
density-screen stages a geotagged multimodal corpus needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint

# the 3x3 Moore neighborhood, anchor-side fan-out
_OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]


def grid_radius_pairs(
    points: DataFrame,
    cell: int,
    radius: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Per-cell profile of the radius self-join: for every occupied
    grid cell, the number of points anchored there, the number of
    point pairs within ``radius`` whose smaller-id member lives in the
    cell, and the minimum squared pair distance seen from the cell.

    ``cell`` must be >= ``radius`` so the 3x3 neighborhood is a
    complete candidate set (asserted).  Each unordered pair is counted
    exactly once: only the anchor (smaller-id) side fans out to its 9
    neighbor cells, and the ``id_a < id_b`` predicate keeps the single
    orientation.  Output rows are grid cells — bounded by geometry,
    not by corpus size.
    """
    if cell < radius:
        raise ValueError(f"cell edge {cell} < radius {radius}: 3x3 incomplete")
    pts = checkpoint(points.select(
        F.col(id_col).cast("bigint").alias("pid"),
        F.col(x_col).cast("bigint").alias("px"),
        F.col(y_col).cast("bigint").alias("py"),
        F.expr(f"CAST(CAST({x_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cx"
        ),
        F.expr(f"CAST(CAST({y_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cy"
        ),
    ))  # feeds the anchor AND probe sides

    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _OFFSETS]
    )
    anchors = pts.select(
        F.col("pid").alias("id_a"),
        F.col("px").alias("xa"),
        F.col("py").alias("ya"),
        F.col("cx").alias("ca_x"),
        F.col("cy").alias("ca_y"),
        F.explode(offsets).alias("o"),
    ).select(
        "id_a",
        "xa",
        "ya",
        "ca_x",
        "ca_y",
        (F.col("ca_x") + F.col("o.dx")).alias("nx"),
        (F.col("ca_y") + F.col("o.dy")).alias("ny"),
    )
    probes = pts.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
    )
    r2 = int(radius) * int(radius)
    pairs = (
        anchors.join(probes, ["nx", "ny"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "ca_x",
            "ca_y",
            (
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).alias("d2"),
        )
        .filter(F.col("d2") <= F.lit(r2))
    )
    per_cell = pts.groupBy(
        F.col("cx").alias("cell_x"), F.col("cy").alias("cell_y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    pair_agg = pairs.groupBy(
        F.col("ca_x").alias("cell_x"), F.col("ca_y").alias("cell_y")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("d2").cast("bigint").alias("min_d2"),
    )
    return per_cell.join(pair_agg, ["cell_x", "cell_y"], "left").select(
        "cell_x",
        "cell_y",
        "n_points",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("bigint").alias("n_pairs"),
        F.col("min_d2").cast("bigint").alias("min_d2"),
    )


def grid_radius_pairs_sql(
    points_sql: str,
    cell: int,
    radius: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> str:
    """DuckDB mirror — identical cell snap (all coordinates are
    non-negative by construction in every caller, so floor and
    truncating division agree), anchor-side 3x3 fan-out via a VALUES
    cross join, single-orientation pair predicate."""
    offsets = ", ".join(f"({dx}, {dy})" for dx, dy in _OFFSETS)
    r2 = int(radius) * int(radius)
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS pid,
             CAST({x_col} AS BIGINT) AS px, CAST({y_col} AS BIGINT) AS py,
             CAST(CAST({x_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cx,
             CAST(CAST({y_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cy
      FROM ({points_sql})
    ),
    pairs AS (
      SELECT a.cx AS ca_x, a.cy AS ca_y,
             (a.px - b.px) * (a.px - b.px)
               + (a.py - b.py) * (a.py - b.py) AS d2
      FROM pts a
      CROSS JOIN (VALUES {offsets}) AS o(dx, dy)
      JOIN pts b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
               AND a.pid < b.pid
      WHERE (a.px - b.px) * (a.px - b.px)
              + (a.py - b.py) * (a.py - b.py) <= {r2}
    ),
    per_cell AS (
      SELECT cx AS cell_x, cy AS cell_y, CAST(COUNT(*) AS BIGINT) AS n_points
      FROM pts GROUP BY cx, cy
    ),
    pair_agg AS (
      SELECT ca_x AS cell_x, ca_y AS cell_y,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(MIN(d2) AS BIGINT) AS min_d2
      FROM pairs GROUP BY ca_x, ca_y
    )
    SELECT p.cell_x, p.cell_y, p.n_points,
           CAST(COALESCE(g.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(g.min_d2 AS BIGINT) AS min_d2
    FROM per_cell p LEFT JOIN pair_agg g
      ON p.cell_x = g.cell_x AND p.cell_y = g.cell_y
    """


def grid_hotspots(
    points: DataFrame,
    cell: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Grid-density hotspot screen (the integer-exact skeleton of a
    Getis-Ord local-density statistic): per occupied cell, its point
    count, the total count over its 3x3 Moore neighborhood, and the
    cell's share of that neighborhood in exact ppm — a cell holding
    far more than 1/9 of its neighborhood is a density hotspot
    (duplicate GPS fixes, scraping artifacts, venue clusters).

    Scale shape: ONE corpus aggregation to the per-cell count frame
    (bounded by grid geometry), then the 3x3 neighborhood join runs
    entirely on that bounded frame — corpus row count never touches
    the join.  The cell frame feeds both sides, so it is eagerly
    checkpointed (the privacy-audit lesson).
    """
    cells = checkpoint(
        points.select(
            F.expr(
                f"CAST(CAST({x_col} AS BIGINT) DIV {int(cell)} AS BIGINT)"
            ).alias("cx"),
            F.expr(
                f"CAST(CAST({y_col} AS BIGINT) DIV {int(cell)} AS BIGINT)"
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _OFFSETS]
    )
    fan = cells.select(
        F.col("cx").alias("ox"),
        F.col("cy").alias("oy"),
        F.col("n").alias("contrib"),
        F.explode(offsets).alias("o"),
    ).select(
        (F.col("ox") + F.col("o.dx")).alias("cx"),
        (F.col("oy") + F.col("o.dy")).alias("cy"),
        "contrib",
    )
    hood = fan.groupBy("cx", "cy").agg(
        F.sum("contrib").cast("bigint").alias("hood_n")
    )
    return cells.join(hood, ["cx", "cy"]).select(
        F.col("cx").alias("cell_x"),
        F.col("cy").alias("cell_y"),
        "n",
        "hood_n",
        F.expr("CAST(1000000 * n DIV hood_n AS BIGINT)").alias("share_ppm"),
    )


def grid_hotspots_sql(
    points_sql: str,
    cell: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> str:
    """DuckDB mirror — occupied cells only on both sides; the
    neighborhood sum scatters each occupied cell's count to its 9
    neighbors and keeps only cells that exist in the occupied frame
    (``hood_n`` >= ``n`` > 0, so the ppm division never sees 0)."""
    offsets = ", ".join(f"({dx}, {dy})" for dx, dy in _OFFSETS)
    return f"""
    WITH cells AS (
      SELECT CAST(CAST({x_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cx,
             CAST(CAST({y_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ({points_sql}) GROUP BY 1, 2
    ),
    hood AS (
      SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
             CAST(SUM(c.n) AS BIGINT) AS hood_n
      FROM cells c CROSS JOIN (VALUES {offsets}) AS o(dx, dy)
      GROUP BY 1, 2
    )
    SELECT c.cx AS cell_x, c.cy AS cell_y, c.n, h.hood_n,
           CAST(1000000 * c.n // h.hood_n AS BIGINT) AS share_ppm
    FROM cells c JOIN hood h ON c.cx = h.cx AND c.cy = h.cy
    """


def grid_nn_histogram(
    points: DataFrame,
    cell: int,
    radius: int,
    n_buckets: int = 16,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Nearest-neighbor distance distribution, radius-capped (the
    Clark-Evans spatial-randomness audit as data): every point's
    squared distance to its nearest OTHER point within ``radius``
    (grid-complete: cell edge >= radius, 3x3 candidate set), bucketed
    into ``n_buckets`` equal d2 bands plus an overflow row (bucket
    ``NULL``) for points with no neighbor inside the radius.

    A corpus of duplicate GPS fixes piles into bucket 0; a uniform
    scatter spreads across bands; the NULL row measures isolation.
    Output rows <= n_buckets + 1 — bounded by construction.

    Scale shape: one cell-keyed shuffle for the candidate join, one
    per-point min (map-side combinable), one bounded-key histogram
    aggregation.  Exact integers end to end.
    """
    if cell < radius:
        raise ValueError(f"cell edge {cell} < radius {radius}: 3x3 incomplete")
    pts = checkpoint(points.select(
        F.col(id_col).cast("bigint").alias("pid"),
        F.col(x_col).cast("bigint").alias("px"),
        F.col(y_col).cast("bigint").alias("py"),
        F.expr(f"CAST(CAST({x_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cx"
        ),
        F.expr(f"CAST(CAST({y_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cy"
        ),
    ))  # feeds the join AND the all-points side

    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _OFFSETS]
    )
    anchors = pts.select(
        F.col("pid").alias("id_a"),
        F.col("px").alias("xa"),
        F.col("py").alias("ya"),
        F.explode(offsets).alias("o"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    ).select("id_a", "xa", "ya", "nx", "ny")
    probes = pts.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
    )
    r2 = int(radius) * int(radius)
    nn = (
        anchors.join(probes, ["nx", "ny"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            (
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).alias("d2"),
        )
        .filter(F.col("d2") <= F.lit(r2))
        .groupBy("id_a")
        .agg(F.min("d2").cast("bigint").alias("nn_d2"))
    )
    with_nn = pts.select(F.col("pid").alias("id_a")).join(nn, "id_a", "left")
    bucket = F.expr(
        f"CASE WHEN nn_d2 IS NULL THEN NULL"
        f" ELSE LEAST({int(n_buckets) - 1}, nn_d2 * {int(n_buckets)} DIV {r2})"
        f" END"
    ).cast("bigint")
    return (
        with_nn.select(bucket.alias("bucket"), "nn_d2")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("nn_d2").cast("bigint").alias("min_d2"),
            F.max("nn_d2").cast("bigint").alias("max_d2"),
        )
    )


def grid_nn_histogram_sql(
    points_sql: str,
    cell: int,
    radius: int,
    n_buckets: int = 16,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> str:
    """DuckDB mirror — identical candidate set, per-point min, bucket
    map; nn_d2 and r2 are non-negative so ``//`` == ``DIV``."""
    offsets = ", ".join(f"({dx}, {dy})" for dx, dy in _OFFSETS)
    r2 = int(radius) * int(radius)
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS pid,
             CAST({x_col} AS BIGINT) AS px, CAST({y_col} AS BIGINT) AS py,
             CAST(CAST({x_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cx,
             CAST(CAST({y_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cy
      FROM ({points_sql})
    ),
    nn AS (
      SELECT a.pid AS id_a, CAST(MIN((a.px - b.px) * (a.px - b.px)
               + (a.py - b.py) * (a.py - b.py)) AS BIGINT) AS nn_d2
      FROM pts a
      CROSS JOIN (VALUES {offsets}) AS o(dx, dy)
      JOIN pts b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
               AND a.pid <> b.pid
      WHERE (a.px - b.px) * (a.px - b.px)
              + (a.py - b.py) * (a.py - b.py) <= {r2}
      GROUP BY a.pid
    ),
    with_nn AS (
      SELECT p.pid, n.nn_d2 FROM pts p LEFT JOIN nn n ON p.pid = n.id_a
    )
    SELECT CAST(CASE WHEN nn_d2 IS NULL THEN NULL
                ELSE LEAST({int(n_buckets) - 1}, nn_d2 * {int(n_buckets)} // {r2})
                END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MIN(nn_d2) AS BIGINT) AS min_d2,
           CAST(MAX(nn_d2) AS BIGINT) AS max_d2
    FROM with_nn GROUP BY 1
    """


def grid_dbscan_classify(
    points: DataFrame,
    cell: int,
    radius: int,
    min_pts: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """DBSCAN point classification (Ester et al. 1996) over the grid:
    a point is CORE when its eps-neighborhood (itself included, the
    DBSCAN convention) holds at least ``min_pts`` points, BORDER when
    non-core but within ``radius`` of a core point, NOISE otherwise.
    Output is the per-cell (n_core, n_border, n_noise) profile —
    bounded by grid geometry.

    This is the two-round shape every distributed DBSCAN uses: round
    one counts neighbors over the grid-complete candidate pairs
    (cell edge >= radius, 3x3 fan-out, one cell-keyed shuffle); round
    two re-walks the SAME pair list against the core flags.  The pair
    list is checkpointed as bare (id_a, id_b) — 16 bytes/pair, the
    geometry never re-joins — because it feeds both rounds.  Cluster
    ASSIGNMENT (connected components over core-core pairs) is the
    existing `operators/graph.py` CC operator composed downstream;
    this operator is the density-classification stage.
    """
    if cell < radius:
        raise ValueError(f"cell edge {cell} < radius {radius}: 3x3 incomplete")
    pts = checkpoint(points.select(
        F.col(id_col).cast("bigint").alias("pid"),
        F.col(x_col).cast("bigint").alias("px"),
        F.col(y_col).cast("bigint").alias("py"),
        F.expr(f"CAST(CAST({x_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cx"
        ),
        F.expr(f"CAST(CAST({y_col} AS BIGINT) DIV {int(cell)} AS BIGINT)").alias(
            "cy"
        ),
    ))

    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in _OFFSETS]
    )
    anchors = pts.select(
        F.col("pid").alias("id_a"),
        F.col("px").alias("xa"),
        F.col("py").alias("ya"),
        F.col("cx").alias("ca_x"),
        F.col("cy").alias("ca_y"),
        F.explode(offsets).alias("o"),
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    ).select("id_a", "xa", "ya", "ca_x", "ca_y", "nx", "ny")
    probes = pts.select(
        F.col("pid").alias("id_b"),
        F.col("px").alias("xb"),
        F.col("py").alias("yb"),
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
    )
    r2 = int(radius) * int(radius)
    pairs = checkpoint(
        anchors.join(probes, ["nx", "ny"])
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= F.lit(r2)
        )
        .select("id_a", "ca_x", "ca_y", "id_b")  # feeds BOTH classification rounds
    )
    # round 1: neighbor counts -> core flags (self-inclusive min_pts)
    cores = pairs.groupBy(F.col("id_a").alias("pid")).agg(
        ((F.count(F.lit(1)) + 1) >= F.lit(int(min_pts))).alias("is_core")
    )
    # round 2: ONE pass re-walks the pair list against the core flags
    # (pairs are symmetric by construction, so every id_b has a cores
    # row and the inner join is lossless); points with zero neighbors
    # never reach this frame and are counted as noise by subtraction.
    flags = (
        pairs.join(cores.withColumnRenamed("pid", "id_b"), "id_b")
        .groupBy("id_a", "ca_x", "ca_y")
        .agg(
            ((F.count(F.lit(1)) + 1) >= F.lit(int(min_pts))).alias("self_core"),
            F.max("is_core").alias("has_core_nbr"),
        )
    )
    per_cell_cls = flags.groupBy(
        F.col("ca_x").alias("cell_x"), F.col("ca_y").alias("cell_y")
    ).agg(
        F.sum(F.expr("CASE WHEN self_core THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_core"),
        F.sum(
            F.expr("CASE WHEN NOT self_core AND has_core_nbr THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_border"),
        F.count(F.lit(1)).cast("bigint").alias("n_classified"),
    )
    per_cell = pts.groupBy(
        F.col("cx").alias("cell_x"), F.col("cy").alias("cell_y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    return per_cell.join(per_cell_cls, ["cell_x", "cell_y"], "left").select(
        "cell_x",
        "cell_y",
        F.coalesce(F.col("n_core"), F.lit(0)).cast("bigint").alias("n_core"),
        F.coalesce(F.col("n_border"), F.lit(0)).cast("bigint").alias("n_border"),
        (
            F.col("n_points")
            - F.coalesce(F.col("n_core"), F.lit(0))
            - F.coalesce(F.col("n_border"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_noise"),
    )


def grid_dbscan_classify_sql(
    points_sql: str,
    cell: int,
    radius: int,
    min_pts: int,
    id_col: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
) -> str:
    """DuckDB mirror — identical candidate set, self-inclusive core
    rule, border = non-core with a core neighbor within radius."""
    offsets = ", ".join(f"({dx}, {dy})" for dx, dy in _OFFSETS)
    r2 = int(radius) * int(radius)
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS pid,
             CAST({x_col} AS BIGINT) AS px, CAST({y_col} AS BIGINT) AS py,
             CAST(CAST({x_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cx,
             CAST(CAST({y_col} AS BIGINT) // {int(cell)} AS BIGINT) AS cy
      FROM ({points_sql})
    ),
    pairs AS MATERIALIZED (
      SELECT a.pid AS id_a, b.pid AS id_b
      FROM pts a
      CROSS JOIN (VALUES {offsets}) AS o(dx, dy)
      JOIN pts b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
               AND a.pid <> b.pid
      WHERE (a.px - b.px) * (a.px - b.px)
              + (a.py - b.py) * (a.py - b.py) <= {r2}
    ),
    cores AS (
      SELECT id_a AS pid, COUNT(*) + 1 >= {int(min_pts)} AS is_core
      FROM pairs GROUP BY id_a
    ),
    near_core AS (
      SELECT DISTINCT p.id_a AS pid
      FROM pairs p JOIN cores c ON p.id_b = c.pid AND c.is_core
    ),
    labeled AS (
      SELECT t.cx, t.cy,
             CASE WHEN COALESCE(c.is_core, FALSE) THEN 'core'
                  WHEN n.pid IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS cls
      FROM pts t
      LEFT JOIN cores c ON t.pid = c.pid
      LEFT JOIN near_core n ON t.pid = n.pid
    )
    SELECT cx AS cell_x, cy AS cell_y,
           CAST(SUM(CASE WHEN cls = 'core' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_core,
           CAST(SUM(CASE WHEN cls = 'border' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_border,
           CAST(SUM(CASE WHEN cls = 'noise' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_noise
    FROM labeled GROUP BY cx, cy
    """

"""Multi-dimensional data layout: Z-order (Morton) keys for
file-skipping — the engine-level form of a lakehouse ``OPTIMIZE
ZORDER BY`` (Delta/Iceberg publish the same technique; the math is the
classic Morton interleave).

Why it matters at 100 TB: a table range-partitioned on ONE column
prunes scans only for predicates on that column.  Interleaving the
bits of several columns into one sort key makes every file a small
hyper-rectangle in all of them, so min/max row-group statistics prune
scans for predicates on ANY interleaved column.  The key is a flat
integer expression (shift/mask/or), identical in any engine —
oracle-able and pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint


def zorder_key(cols: list[str], bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` of each column into one
    BIGINT sort key (supports 2..4 columns, ``bits * n_cols <= 62``).

    Columns must be non-negative integers in [0, 2^bits); values are
    masked to the low bits (callers normalize first — e.g. days since
    epoch, bucketed prices).  Flat shift/or expression: whole-stage
    codegen, no UDF, bit-identical across engines.
    """
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError(f"zorder_key interleaves 2..4 columns, got {n}")
    if bits * n > 62:
        raise ValueError(f"bits * n_cols must fit a BIGINT ({bits}*{n} > 62)")
    terms = []
    for b in range(bits):
        for ci, c in enumerate(cols):
            terms.append(f"((({c} >> {b}) & 1) << {b * n + ci})")
    return F.expr(" + ".join(terms)).cast("bigint")


def zorder_key_sql(cols: list[str], bits: int = 16) -> str:
    n = len(cols)
    terms = []
    for b in range(bits):
        for ci, c in enumerate(cols):
            terms.append(f"((({c} >> {b}) & 1) << {b * n + ci})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def layout_by_zorder(
    df: DataFrame, cols: list[str], n_files: int, bits: int = 16
) -> DataFrame:
    """Re-layout a table for multi-dimensional skipping: range-partition
    by the Morton key into ``n_files`` partitions and sort within each
    — every output file becomes a small hyper-rectangle in ALL of
    ``cols``, so row-group min/max stats prune scans on any of them.

    One range-exchange (sampled boundaries) + partition-local sort —
    exactly the cost of a single-column layout, with skipping on every
    interleaved dimension instead of one.
    """
    keyed = df.withColumn("__z", zorder_key(cols, bits))
    return (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def hilbert_key_sql(
    table_sql: str, id_cols: list[str], x_sql: str, y_sql: str, bits: int = 8
) -> str:
    """Shared SQL for the 2-D Hilbert index — identical text runs on
    both engines. The classic xy2d loop (rx/ry bit tests, quadrant
    ``(3*rx) XOR ry``, conditional reflect+swap) is unrolled into
    ``bits`` nested selects; XOR and the branchy rotation are rewritten
    as portable arithmetic/CASE:

    - ``(3*rx) XOR ry  ==  3*rx + ry - 2*rx*ry``  (rx, ry in {0,1})
    - rotate: ry=1 -> identity; ry=0, rx=0 -> swap;
      ry=0, rx=1 -> (n-1-y, n-1-x)

    Values are masked to the low ``bits`` (callers normalize like
    zorder_key). Flat integer expressions: whole-stage codegen, no
    UDF, bit-identical across engines.
    """
    if not 1 <= bits <= 15:
        raise ValueError(f"bits must be 1..15, got {bits}")
    n = 1 << bits
    ids = ", ".join(id_cols)
    sql = f"""
      SELECT {ids}, CAST(({x_sql}) & {n - 1} AS BIGINT) AS __hcx,
             CAST(({y_sql}) & {n - 1} AS BIGINT) AS __hcy,
             CAST(0 AS BIGINT) AS __hd
      FROM ({table_sql})
    """
    for t in range(bits):
        s = 1 << (bits - 1 - t)
        sql = f"""
      SELECT {ids},
             __hd + {s * s} * (3 * __hrx + __hry - 2 * __hrx * __hry) AS __hd,
             CASE WHEN __hry = 1 THEN __hcx
                  WHEN __hrx = 0 THEN __hcy
                  ELSE {n - 1} - __hcy END AS __hcx,
             CASE WHEN __hry = 1 THEN __hcy
                  WHEN __hrx = 0 THEN __hcx
                  ELSE {n - 1} - __hcx END AS __hcy
      FROM (
        SELECT {ids}, __hcx, __hcy, __hd,
               CASE WHEN (__hcx & {s}) > 0 THEN 1 ELSE 0 END AS __hrx,
               CASE WHEN (__hcy & {s}) > 0 THEN 1 ELSE 0 END AS __hry
        FROM ({sql})
      )
    """
    return f"SELECT {ids}, CAST(__hd AS BIGINT) AS hkey FROM ({sql})"


def hilbert_key(
    df: DataFrame,
    id_cols: list[str],
    x_sql: str,
    y_sql: str,
    bits: int = 8,
    view_name: str = "__hilbert",
) -> DataFrame:
    """2-D Hilbert layout key (the locality-optimal alternative to
    :func:`zorder_key`): consecutive key values are ALWAYS adjacent
    cells, so a range of the key covers a more compact rectangle than
    Morton order — measurably fewer files touched per 2-D range
    predicate at the same file count (no Morton "jumps" across the
    space). Same contract as zorder: normalize both dimensions to
    [0, 2^bits) integers first, then ORDER BY / range-partition on
    ``hkey`` for min/max-prunable files on both columns.
    """
    df.createOrReplaceTempView(view_name)
    return df.sparkSession.sql(
        hilbert_key_sql(f"SELECT * FROM {view_name}", id_cols, x_sql, y_sql, bits)
    )


def layout_skipping_eval_sql(
    table_sql: str,
    x_sql: str,
    y_sql: str,
    bits: int = 8,
    n_files: int = 64,
    rect: tuple[int, int, int, int] = (32, 95, 64, 127),
) -> str:
    """Shared SQL comparing Hilbert vs Morton file-skipping on the SAME
    rows: key both ways, split each ordering into ``n_files``
    equal-width key ranges (the file layout a range-partitioned write
    produces), collect per-file min/max stats for both dimensions, and
    count the files a rectangle predicate would touch under standard
    min/max pruning — plus the rows those files scan vs the rows that
    actually match.  The quantified form of the Hilbert locality claim:
    consecutive keys are adjacent cells, so equal key ranges cover
    tighter rectangles and prune more files.
    """
    x0, x1, y0, y1 = rect
    width = (1 << (2 * bits)) // n_files
    zexpr = zorder_key_sql(["hx", "hy"], bits)
    hil = hilbert_key_sql(
        f"SELECT ({x_sql}) AS hx, ({y_sql}) AS hy FROM ({table_sql})",
        ["hx", "hy"],
        "hx",
        "hy",
        bits,
    )
    return f"""
    WITH keyed AS (
      SELECT hx, hy, hkey, {zexpr} AS zkey FROM ({hil})
    ),
    layouts AS (
      SELECT 'hilbert' AS layout,
             CAST(FLOOR(hkey / {width}.0) AS BIGINT) AS f, hx, hy FROM keyed
      UNION ALL
      SELECT 'zorder',
             CAST(FLOOR(zkey / {width}.0) AS BIGINT), hx, hy FROM keyed
    ),
    files AS (
      SELECT layout, f, CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(hx) AS x_min, MAX(hx) AS x_max,
             MIN(hy) AS y_min, MAX(hy) AS y_max,
             CAST(SUM(CASE WHEN hx BETWEEN {x0} AND {x1}
                            AND hy BETWEEN {y0} AND {y1}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM layouts GROUP BY layout, f
    ),
    flagged AS (
      SELECT *, CASE WHEN x_min <= {x1} AND x_max >= {x0}
                      AND y_min <= {y1} AND y_max >= {y0}
                     THEN 1 ELSE 0 END AS touched
      FROM files
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(touched) AS BIGINT) AS files_touched,
           CAST(SUM(CASE WHEN touched = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matched
    FROM flagged GROUP BY layout
    """


def layout_skipping_eval(
    df: DataFrame,
    x_sql: str,
    y_sql: str,
    bits: int = 8,
    n_files: int = 64,
    rect: tuple[int, int, int, int] = (32, 95, 64, 127),
    view_name: str = "__layout_eval",
) -> DataFrame:
    """See :func:`layout_skipping_eval_sql` — one scan, one (layout,
    file) aggregation (2 * n_files groups), one 2-row rollup; the
    whole evaluation is metadata-scale after the first aggregate."""
    df.createOrReplaceTempView(view_name)
    return df.sparkSession.sql(
        layout_skipping_eval_sql(
            f"SELECT * FROM {view_name}", x_sql, y_sql, bits, n_files, rect
        )
    )


# ---- Bloom file-index skipping (the point-lookup complement of the
# min/max eval above) ----

_BLOOM_M = 256  # bits per file
_BLOOM_K = 2  # hash functions


def bloom_skipping_eval(
    df: DataFrame,
    id_col: str,
    key_col: str,
    probe_keys: tuple[int, ...],
    rows_per_file: int = 32,
) -> DataFrame:
    """Quantified Bloom file-index evaluation: lay rows into files of
    ``rows_per_file`` consecutive ids (the unsorted-ingest layout),
    build an exact per-file Bloom index (m=256 bits, k=2 md5-derived
    positions) over ``key_col``, and for each PROBE key report how
    many files each pruning strategy touches:

    - ``minmax_touched`` — min/max zone maps (the only stats the
      layout eval above uses): on uniformly-distributed keys every
      file's [min, max] covers the probe, so zone maps skip ~nothing;
    - ``bloom_touched`` — files whose Bloom MAY contain the key
      (both bit positions set);
    - ``true_files`` — files actually containing it (``bloom_fp`` =
      the false-positive overhead; Bloom never false-negatives, which
      the oracle match certifies row-for-row).

    The lakehouse point-lookup story in one table: zone maps prune
    ranges, Bloom prunes point predicates — a ~5% false-positive rate
    at 32 keys/file vs zone maps touching 100%.

    Scale shape: one keyed aggregation to per-file stats + a distinct
    (file, bit) frame (metadata scale: n_files x <= 64 rows); probes
    are a literal spine broadcast into three equi-joins. No payload
    ever re-reads.
    """
    from pyspark.sql import functions as F

    from cosmos_xenna_spark.functions import md5_long63

    spark = df.sparkSession
    filed = checkpoint(df.select(
        F.expr(f"CAST({id_col} AS BIGINT) div {int(rows_per_file)}").alias("f"),
        F.col(key_col).cast("bigint").alias("k"),
    ))
    stats = filed.groupBy("f").agg(
        F.min("k").alias("kmin"), F.max("k").alias("kmax")
    )
    bit = lambda i, c: md5_long63(  # noqa: E731
        F.col(c).cast("string"), prefix=f"b{i}|"
    ) % _BLOOM_M
    bits = checkpoint(
        filed.select("f", bit(0, "k").alias("b"))
        .unionByName(filed.select("f", bit(1, "k").alias("b")))
        .distinct()
    )
    probes = spark.createDataFrame(
        [(int(p),) for p in probe_keys], "pk long"
    )
    p = probes.select(
        "pk", bit(0, "pk").alias("pb0"), bit(1, "pk").alias("pb1")
    )
    b0 = bits.select("f", F.col("b").alias("pb0"))
    b1 = bits.select("f", F.col("b").alias("pb1"))
    bloom_touched = (
        p.join(b0, "pb0")
        .join(b1, ["pb1", "f"])
        .select("pk", "f")
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("bloom_touched"))
    )
    # BNLJ direction matters at scale: the file-stats frame grows
    # linearly with the corpus (metadata scale, but NOT broadcastable
    # at 100 TB) while the probe spine is a literal handful of rows —
    # broadcast the PROBES and stream the stats (the kNN query-set
    # precedent; allowlisted).
    minmax_touched = (
        stats.crossJoin(F.broadcast(p.select("pk")))
        .filter((F.col("kmin") <= F.col("pk")) & (F.col("pk") <= F.col("kmax")))
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("minmax_touched"))
    )
    true_files = (
        p.join(filed, p.pk == filed.k)
        .select("pk", "f")
        .distinct()
        .groupBy("pk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_files"))
    )
    n_files = stats.agg(F.count(F.lit(1)).cast("bigint").alias("n_files"))
    out = (
        probes.join(bloom_touched, "pk", "left")
        .join(minmax_touched, "pk", "left")
        .join(true_files, "pk", "left")
        .crossJoin(F.broadcast(n_files))
        .select(
            F.col("pk").cast("bigint").alias("probe_key"),
            "n_files",
            F.coalesce("minmax_touched", F.lit(0)).cast("bigint").alias(
                "minmax_touched"
            ),
            F.coalesce("bloom_touched", F.lit(0)).cast("bigint").alias(
                "bloom_touched"
            ),
            F.coalesce("true_files", F.lit(0)).cast("bigint").alias(
                "true_files"
            ),
            (
                F.coalesce("bloom_touched", F.lit(0))
                - F.coalesce("true_files", F.lit(0))
            )
            .cast("bigint")
            .alias("bloom_fp"),
        )
    )
    return out


def bloom_skipping_eval_sql(
    table_sql: str,
    id_col: str,
    key_col: str,
    probe_keys: tuple[int, ...],
    rows_per_file: int = 32,
) -> str:
    """DuckDB mirror — identical md5 bit positions and file layout."""
    from cosmos_xenna_spark.functions import md5_long63_sql

    def bit(i: int, expr: str) -> str:
        return f"({md5_long63_sql(f'CAST({expr} AS VARCHAR)', prefix=f'b{i}|')} % {_BLOOM_M})"

    plist = ", ".join(f"({int(p)})" for p in probe_keys)
    return f"""
    WITH filed AS MATERIALIZED (
      SELECT CAST(CAST({id_col} AS BIGINT) // {rows_per_file} AS BIGINT) AS f,
             CAST({key_col} AS BIGINT) AS k
      FROM ({table_sql})
    ),
    stats AS (SELECT f, MIN(k) AS kmin, MAX(k) AS kmax FROM filed GROUP BY f),
    bits AS MATERIALIZED (
      SELECT DISTINCT f, b FROM (
        SELECT f, {bit(0, 'k')} AS b FROM filed
        UNION ALL
        SELECT f, {bit(1, 'k')} FROM filed
      )
    ),
    probes AS (SELECT CAST(pk AS BIGINT) AS pk FROM (VALUES {plist}) v(pk)),
    p AS (SELECT pk, {bit(0, 'pk')} AS pb0, {bit(1, 'pk')} AS pb1 FROM probes),
    bloom_touched AS (
      SELECT p.pk, CAST(COUNT(DISTINCT b0.f) AS BIGINT) AS bloom_touched
      FROM p JOIN bits b0 ON b0.b = p.pb0
             JOIN bits b1 ON b1.b = p.pb1 AND b1.f = b0.f
      GROUP BY p.pk
    ),
    minmax_touched AS (
      SELECT p.pk, CAST(COUNT(*) AS BIGINT) AS minmax_touched
      FROM p JOIN stats s ON s.kmin <= p.pk AND p.pk <= s.kmax
      GROUP BY p.pk
    ),
    true_files AS (
      SELECT p.pk, CAST(COUNT(DISTINCT filed.f) AS BIGINT) AS true_files
      FROM p JOIN filed ON filed.k = p.pk
      GROUP BY p.pk
    )
    SELECT probes.pk AS probe_key,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM stats) AS n_files,
           CAST(COALESCE(minmax_touched, 0) AS BIGINT) AS minmax_touched,
           CAST(COALESCE(bloom_touched, 0) AS BIGINT) AS bloom_touched,
           CAST(COALESCE(true_files, 0) AS BIGINT) AS true_files,
           CAST(COALESCE(bloom_touched, 0) - COALESCE(true_files, 0)
                AS BIGINT) AS bloom_fp
    FROM probes
    LEFT JOIN bloom_touched USING (pk)
    LEFT JOIN minmax_touched USING (pk)
    LEFT JOIN true_files USING (pk)
    """

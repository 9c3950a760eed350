"""Sources & sinks (SURVEY.md §2.B scans/sources/sinks).

Reference parity: the reference has two sources — an in-memory list
seeded into stage 0 (``cosmos_xenna/pipelines/private/specs.py:533``)
and a serving queue (``specs.py:511-518``) — and three sinks: discard /
collect / queue push (``specs.py:478-481``). The port adds the full
format surface a relational engine needs; everything else (file
listing parallelism, partition discovery, predicate pushdown) is
Spark's datasource machinery.

Binary/multimodal ingestion uses the ``binaryFile`` format: each file
becomes (path, modificationTime, length, content BINARY) — the opaque
payload column model for image/audio/video (SURVEY.md §1.1 Sample ->
BinaryType).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str, schema: str | None = None, header: bool = True) -> DataFrame:
    reader = spark.read.option("header", str(header).lower())
    # schema-first: avoid inferSchema's extra pass over 100 TB
    return (reader.schema(schema) if schema else reader.option("inferSchema", "true")).csv(path)


def read_orc(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning machinery as parquet
    (both are Spark file sources with vectorized readers); kept for
    interop with Hive-era lakes."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(df: DataFrame, path: str, partition_by: Sequence[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    reader = spark.read
    return (reader.schema(schema) if schema else reader).json(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Multimodal ingestion: opaque binary payloads + file metadata."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def from_rows(spark: SparkSession, rows: Iterable, schema: str) -> DataFrame:
    """Reference A1: in-memory input_data -> stage-0 source."""
    return spark.createDataFrame(rows, schema=schema)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet sink. ``partition_by`` low-cardinality columns
    give partition pruning to every downstream scan;
    ``max_records_per_file`` bounds file size at 100 TB (avoids the
    giant-file long-tail)."""
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame, name: str, bucket_cols: Sequence[str], n_buckets: int, sort_cols: Sequence[str] | None = None
) -> None:
    """Bucketed managed table: later equi-joins/aggs on bucket_cols
    co-locate without a shuffle (the 100 TB fact-fact join answer)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Range-clustered parquet: rows range-partition on ``cluster_cols``
    (~one output file per range) and sort within each file.

    This is the lakehouse "cluster by" write: downstream scans with a
    predicate on ``cluster_cols`` skip whole files on parquet min/max
    row-group stats, the per-file sort maximizes stats selectivity and
    encoding/compression runs. ``repartitionByRange``'s sampler is only
    nondeterministic ACROSS jobs — a single write job plans once, so
    the boundary-disagreement hazard (see ``operators/ranking.py``)
    does not apply here.
    """
    out = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_rows: int,
) -> int:
    """Rewrite a parquet directory into ~``target_file_rows``-row files
    (small-file compaction — the #1 operational chore on a 100 TB lake:
    streaming/CDC sinks leave thousands of KB-sized files whose
    open/footer overhead dominates scan time).

    Row-count-based sizing: one cheap count job (parquet footers only),
    then a round-robin repartition to ``ceil(rows / target)`` files.
    Returns the number of output files requested. Compacts to a NEW
    directory — atomic swap is the caller's move (object-store rename
    semantics differ).
    """
    df = spark.read.parquet(src_path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_file_rows))
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files

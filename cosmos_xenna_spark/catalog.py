"""Table catalog over the driver-provided parquet star schema.

``load_table(spark, sf_dir, name)`` is the single ingestion point for
every query/operator — it owns the *timestamp-encoding contract*: the
events table's ``ts`` column has shipped in three physical encodings
across test-data generations (TIMESTAMP(NANOS) → bigint under
``nanosAsLong``; plain ``timestamp[us]`` without the UTC flag →
TIMESTAMP_NTZ; and UTC-adjusted ``timestamp``), and every query sees
the same logical type regardless: session-UTC ``timestamp`` with
microsecond values identical to what DuckDB reads from the same file.
Dispatch is on the *actual* Spark dtype, never on an assumed physical
encoding — a data regeneration must not break the engine.

At scale this is where partition-aware reads happen: parquet scans get
filter pushdown and column pruning from Catalyst automatically because
callers express plans declaratively on the returned DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cosmos_xenna_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-UTC ``timestamp``.

    Dispatches on the column's actual Spark dtype:

    - ``bigint``        — legacy TIMESTAMP(NANOS) read under
      ``spark.sql.legacy.parquet.nanosAsLong``; floor-divide to us
      (identical to DuckDB's ns→us truncation on read).
    - ``timestamp_ntz`` — plain ``timestamp[us]`` parquet without the
      UTC flag. The session timezone is pinned UTC (session.py), so
      ``cast("timestamp")`` is value-preserving and oracle-safe.
    - ``timestamp``     — already the engine type; passthrough.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table; normalize types for engine use."""
    apply_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL API surface)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the config below is
written so the same code is correct on a 1000-executor cluster:
AQE handles runtime re-planning and skew joins, Arrow is on for every
Python<->JVM boundary, and the session timezone is pinned to UTC so
timestamps compare bit-for-bit with the DuckDB oracle.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Dynamic (session-level) confs that our operators rely on. Applied both
# when *we* build the session and when an externally-created session is
# handed to us (the correctness driver builds its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    # The synthetic events table stores TIMESTAMP(NANOS) parquet, which
    # Spark 4 rejects unless read as long (we convert ns -> us ourselves
    # in catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle comparisons require UTC; DuckDB timestamps are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for all pandas UDF / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime partition coalescing + skew-join handling. At 100 TB
    # this is what keeps post-shuffle partitions near the target size
    # regardless of the static shuffle.partitions setting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required dynamic confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static on exotic deployments; the
            # operators that need them fail loudly with a clear error.
            pass
    return spark


@functools.cache
def _socket_dir() -> str:
    """A short, owner-only directory for this process's Unix domain
    sockets, removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix="cxs-", dir="/tmp")  # mode 0700
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "cosmos_xenna_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    ``shuffle_partitions`` defaults to the local core count — the right
    number for local runs; on a real cluster leave AQE to coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # Console progress writes \r-laden lines to the terminal that
        # corrupt fixed-size log-tail captures (BENCH_r06 was recorded
        # as parsed:null because of it). Nothing local needs the bar.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE post-shuffle coalescing floor. AQE sizes coalesced
        # partitions at max(stageBytes / defaultParallelism,
        # minPartitionSize); the 1 MB default folds MB-scale stages onto a
        # few tasks, so a compute-per-row stage (regex tokenize, array
        # intersections) runs on 1-5 cores behind one JIT-cold straggler.
        # At scale stageBytes / parallelism >> 1 MB and the floor is a
        # no-op.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
        # Generated-class cache (static conf). The default 100 entries is
        # smaller than the stages a multi-query session cycles, so every
        # pass re-compiles and re-warms its codegen.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Preload pandas/numpy/pyarrow in the worker daemon so forked
        # Python workers inherit them copy-on-write instead of each
        # importing cold on its first task — the dominant term of any
        # first mapInPandas query in a fresh session (~5 s across 32
        # workers on local[32]; per executor on a cluster). The module
        # also removes the per-task re-read of pyspark.zip and the
        # spark-core jar directories (~130-330 ms of every Python task on
        # CPython 3.10-3.12) and freezes the preloaded heap out of the
        # per-task gc.collect(). See cosmos_xenna_spark/daemon.py.
        .config("spark.python.daemon.module", "cosmos_xenna_spark.daemon")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if master.startswith("local"):
        # Local masters only: every JVM and Python worker shares this
        # host's file system.
        builder = (
            builder
            # Python worker, daemon, accumulator and driver-collect sockets
            # on Unix domain sockets instead of loopback TCP. Over TCP a
            # Python task waited a median 41 ms for the JVM's Arrow schema
            # after receiving its UDF (the shape of Nagle's algorithm
            # meeting the 40 ms delayed ACK); a warm 1-partition 80-row
            # identity mapInPandas collect fell from 91 to 49 ms on a
            # 4-core host.
            .config("spark.python.unix.domain.socket.enabled", "true")
            # Spark's default socket directory is java.io.tmpdir, but a
            # socket path "<dir>/.<uuid4>.sock" must fit AF_UNIX's 108-byte
            # sun_path, so a tmpdir over ~65 characters fails every Python
            # UDF with "AF_UNIX path too long". The directory is mode 0700
            # because over Unix sockets the worker daemon skips its secret
            # handshake, so the socket files' permissions are the only
            # gate against other local users.
            .config("spark.python.unix.domain.socket.dir", _socket_dir())
            # Streaming offset/commit logs and state-store files renamed
            # with File.renameTo. The default FileContext-based manager
            # renames through RawLocalFileSystem.getFileLinkStatus, which
            # on Hadoop 3.4 forks a `readlink` process, 16 per micro-batch
            # (two per log file and per temporary file). walCommit + commitOffsets fell from 64-79 to
            # 16-18 ms per serving trigger on a 4-core host. Local only:
            # on HDFS the FileContext rename is the atomic overwrite.
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
        )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)

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
        # Scan-parallelism FLOOR (guide: spark.sql.files.minPartitionNum
        # sets a floor on scan parallelism): it cuts a file into ~cores
        # byte-range splits instead of ONE (maxPartitionBytes=128MB).
        # The splits only carry rows when the file has several row
        # groups: parquet cannot be read from inside a row group, so a
        # split gets the row groups whose midpoint it holds.  Every
        # local test and bench table (sf0.001-sf0.1) is one file with
        # one row group, so there the floor yields ~cores scan
        # partitions of which one holds all rows (sf0.1 lineitem on 4
        # cores: [0, 600000, 0, 0]) and scan-rooted work still starts on
        # one core.  At scale a scan already has far more splits than
        # cores and the conf is a no-op.  openCostInBytes drops from its
        # HDD-era 4MB default so the floor can bite on sub-4MB files (it
        # only weights small-file packing; large-file splitting at scale
        # is governed by maxPartitionBytes).  Both env-overridable for
        # cluster profiles.
        .config(
            "spark.sql.files.minPartitionNum",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION_NUM", str(shuffle_partitions)),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "131072"),
        )
        # AQE post-shuffle coalescing floor. With parallelismFirst
        # (default true) AQE sizes coalesced partitions at
        # max(stageBytes / defaultParallelism, minPartitionSize); the
        # 1 MB default minPartitionSize folds every MB-scale stage to a
        # handful of tasks — fine for byte-bound work, but a
        # compute-per-row stage (regex tokenize, array intersections)
        # then runs on 1-5 cores while the rest idle, and a JIT-cold
        # single task turns a 1 s stage into a 10-15 s straggler
        # (jstack-verified: one RUNNABLE task in Matcher.search, 31
        # workers parked). 64 KB keeps small compute stages wide
        # locally; at scale stageBytes/parallelism >> 1 MB so the knob
        # is a no-op. Env-overridable.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_COALESCED_PARTITION", "65536"),
        )
        # Generated-class cache (STATIC conf, must be set at session
        # build). The default is 100 entries — a multi-query session
        # (the 75-query bench pass; any long-lived analytics service)
        # cycles several hundred generated stages, so every pass
        # re-compiles and re-warms its codegen, which is exactly the
        # jstack-attributed 10-70 s cold-single-task spike class from
        # the r12 analysis. Compiled classes are tens of KB; 2048
        # entries is a few hundred MB worst case on a 16 GB driver and
        # proportionally trivial on cluster executors. Env-overridable.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "2048"),
        )
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

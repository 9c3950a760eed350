"""Local-master settings of ``session.get_spark``.

The socket-path test builds its own session in a subprocess: a session's
JVM options are fixed when its JVM starts, and the test needs a driver
``java.io.tmpdir`` too long to hold a Unix domain socket path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from cosmos_xenna_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_udf_runs_with_a_long_java_tmpdir(tmp_path):
    # AF_UNIX paths hold at most 107 bytes; Spark names a socket
    # "<dir>/.<uuid4>.sock", 42 bytes after the directory
    tmpdir = tmp_path / ("t" * max(1, 90 - len(str(tmp_path)) - 1))
    tmpdir.mkdir()
    assert len(str(tmpdir)) >= 90
    script = f"""
        import json, os, stat
        from cosmos_xenna_spark.session import get_spark

        spark = get_spark(
            master="local[1]",
            shuffle_partitions=1,
            extra_confs={{"spark.driver.extraJavaOptions": "-Djava.io.tmpdir={tmpdir}"}},
        )
        conf = spark.sparkContext.getConf()
        java_tmp = spark._jvm.System.getProperty("java.io.tmpdir")
        ids = [r.id for r in spark.range(80).coalesce(1).mapInPandas(lambda it: it, "id long").collect()]
        got = {{"java_tmp": java_tmp, "ids": ids}}
        if conf.get("spark.python.unix.domain.socket.enabled", "false") == "true":
            sock_dir = conf.get("spark.python.unix.domain.socket.dir", java_tmp)
            got["mode"] = oct(stat.S_IMODE(os.stat(sock_dir).st_mode))
            got["sockets"] = sum(n.endswith(".sock") for n in os.listdir(sock_dir))
        spark.stop()
        print(json.dumps(got))
        """
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        capture_output=True,
        text=True,
        cwd=_REPO,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["java_tmp"] == str(tmpdir)
    assert got["ids"] == list(range(80))
    if "mode" in got:
        assert got["mode"] == "0o700"
        assert got["sockets"] > 0, "the socket directory holds no socket"


def test_local_session_uses_unix_sockets_and_rename_based_checkpoints(spark, tmp_path):
    assert spark.sparkContext.getConf().get("spark.python.unix.domain.socket.enabled") == "true"
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_default_driver_heap_is_at_most_half_the_host(spark, monkeypatch):
    want = os.environ.get("SPARK_DRIVER_MEMORY", session._default_driver_memory())
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want

    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**18}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return session._default_driver_memory()

    assert host(15) == "7680m"
    assert host(64) == "16384m"

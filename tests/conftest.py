from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmos_xenna_spark.oracle import make_duckdb
from cosmos_xenna_spark.session import get_spark

SF_SMOKE = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "example(name): the examples/ script a test in test_examples.py runs"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cosmos_xenna_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duckdb(sf_dir)
    yield con
    con.close()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A checkpoint directory on the session's context for one test, so
    ``cache.checkpoint`` takes reliable checkpoints. Teardown unsets it:
    a directory left behind would switch every later test to reliable
    checkpoints."""
    sc = spark.sparkContext
    path = tmp_path / "ckpt"
    sc.setCheckpointDir(str(path))
    try:
        yield path
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.fixture
def job_meter(spark, monkeypatch):
    """``run(fn) -> (result, n_jobs, checkpoints)``: the Spark jobs ``fn``
    ran, counted by job group (helper threads inherit it), and the frames
    its ``localCheckpoint`` calls returned. AQE and broadcast joins are
    off while the fixture is active, so every action is exactly one job:
    AQE submits each shuffle stage as a job of its own, and a broadcast
    join one more for its build side."""
    sc = spark.sparkContext
    taken: list = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        taken.append(out)
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    confs = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def run(fn):
        group = f"job_meter-{uuid.uuid4().hex}"
        taken.clear()
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group)), list(taken)

    yield run
    for k, v in saved.items():
        spark.conf.set(k, v)

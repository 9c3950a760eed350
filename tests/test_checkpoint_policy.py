"""One checkpoint policy: ``cache.checkpoint`` is the only place that
checkpoints, and the session's checkpoint directory picks the kind.

Without a directory checkpoints are local: a consumer whose checkpoint
blocks are gone (a lost executor, or an early release) fails loudly,
because the lineage behind a local checkpoint is truncated. With one they
are reliable: the same sequence reads the checkpoint files back and
returns the same rows.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import cosmos_xenna_spark
from cosmos_xenna_spark.operators.cache import (
    checkpoint,
    fixpoint,
    release_local_checkpoint,
)
from cosmos_xenna_spark.oracle import compare
from cosmos_xenna_spark.queries import load_registry

PACKAGE = Path(cosmos_xenna_spark.__file__).parent
CACHE = PACKAGE / "operators" / "cache.py"


def test_only_cache_py_checkpoints():
    """Every eager checkpoint in the package goes through
    ``cache.checkpoint``, so the kind is picked in one place."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == CACHE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not found, f"checkpoint outside operators/cache.py: {found}"


def _pinned(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _released_before_use(spark) -> list:
    """Checkpoint a frame, release its blocks, then run its consumer."""
    ck = checkpoint(spark.range(100).withColumn("v", F.col("id") * 3))
    consumer = ck.groupBy((F.col("id") % 7).alias("k")).agg(F.sum("v").alias("s"))
    release_local_checkpoint(ck)
    return sorted(consumer.collect())


_EXPECTED = [
    (k, sum(3 * i for i in range(100) if i % 7 == k)) for k in range(7)
]


def test_lost_local_checkpoint_fails_loudly(spark):
    with pytest.raises(Exception, match=r"Checkpoint block rdd_\d+_\d+ not found"):
        _released_before_use(spark)


def test_lost_reliable_checkpoint_recovers(spark, checkpoint_dir):
    assert [tuple(r) for r in _released_before_use(spark)] == _EXPECTED
    assert any(p.is_file() for p in checkpoint_dir.rglob("part-*"))


def _grow(s):
    nxt = s.select((F.col("id") + 1).alias("id")).filter(F.col("id") < 4)
    return s.union(nxt).distinct()


def _fixpoint_rows(spark) -> list[int]:
    return sorted(r.id for r in fixpoint(spark.range(1), _grow, 10, F.count(F.lit(1))).collect())


def test_fixpoint_under_checkpoint_dir_matches_local(spark, request):
    local = _fixpoint_rows(spark)
    request.getfixturevalue("checkpoint_dir")
    before = _pinned(spark)
    reliable = _fixpoint_rows(spark)
    assert not (_pinned(spark) - before), "reliable checkpoints must not pin blocks"
    assert reliable == local == [0, 1, 2, 3]


def test_graph_query_under_checkpoint_dir_matches_oracle(spark, sf_dir, duck, checkpoint_dir):
    """q_scc checkpoints its edge list and both closure sweeps (on two
    driver threads) reliably and still gives the oracle's rows."""
    spec = load_registry()["q_scc"]
    res = compare("q_scc", spec.builder(spark, sf_dir), spec.oracle, duck)
    assert res.ok, res.first_diffs
    assert any(p.is_file() for p in checkpoint_dir.rglob("part-*"))

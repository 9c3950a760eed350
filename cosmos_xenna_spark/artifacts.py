"""Artifact distribution: reference A21 parity via Spark's file shipping.

The reference implements a ~5.7k-LoC BitTorrent-style P2P system to
place model weights/archives on every node before a pipeline starts
(reference ``cosmos_xenna/file_distribution/``, chunking at
``_file_distribution.py:73-107``). Spark ships files to every executor
natively: ``SparkContext.addFile`` (any URI, incl. s3a://) and
``addArchive`` (auto-unpacked tar/zip — the reference's unpack step,
``_models.py:156-181``). Executors fetch once per node and cache; a
Stage's ``setup()`` resolves local paths via ``SparkFiles.get``.

At 100 TB the weights are the small thing (GBs) and the data is the
big thing — shipping artifacts driver->executors-once is exactly what
addFile does; rarest-first P2P chunk scheduling buys nothing on top of
a DFS/object store that every node can already read.
"""

from __future__ import annotations

import os

from pyspark import SparkFiles
from pyspark.sql import SparkSession


def distribute_file(spark: SparkSession, uri: str) -> str:
    """Ship a file to every executor (once per node, cached).

    Returns the basename; executors resolve it with
    ``artifact_path(name)`` inside ``Stage.setup``/``setup_on_node``.
    """
    spark.sparkContext.addFile(uri)
    return os.path.basename(uri)


def artifact_path(name: str) -> str:
    """Executor-side: absolute local path of a distributed artifact.
    Call from inside stage/UDF code."""
    return SparkFiles.get(name)

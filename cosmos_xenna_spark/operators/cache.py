"""Deterministic lifetime management for operator-internal caches.

Operators that ``persist`` an intermediate (a word set feeding several
plan branches) or ``localCheckpoint`` per-iteration state would
otherwise leak block-manager memory for the life of the session: Spark
only reclaims those blocks when the JVM garbage-collects the RDD
reference, and on a large heap that can take minutes — long enough for
a sequence of queries to evict each other's working set. The round-4 →
round-5 bench showed the failure mode concretely: every query that ran
after the Jaccard family (which persisted its word sets and never
released them) measured 3-5x slower than the same query in a fresh
session, purely from accumulated dead cache blocks.

Three tools. The first two are tied to the natural lifetime boundary —
the result DataFrame handed back to the caller:

- :func:`scoped_persist` persists a scratch frame and unpersists it
  when the *result* DataFrame is garbage-collected. The cache lives
  exactly as long as someone can still run the query; a caller that
  keeps the handle keeps the speedup, a caller that drops it frees the
  executors' memory without ever knowing the scratch frame existed.
  Deriving a new frame from the result and dropping the original fires
  the release early — that is SAFE (persist is an optimization; the
  derived plan recomputes), it just loses the reuse, so operators that
  compose should hold the original handle across any eager step.
- :func:`release_checkpoint` deterministically drops the blocks or
  files behind an eager :func:`checkpoint` once nothing can plan
  against it anymore — e.g. iteration k's state after iteration k+1 has
  materialized. Unlike a persist, a released checkpoint CANNOT be
  recomputed (the lineage was truncated), so this must never be driven
  by a Python-object-lifetime signal: frames derived from a result
  keep planning against the final checkpoint's blocks after the
  original handle dies. Only release state that is provably
  superseded; leave the final checkpoint to the JVM's ContextCleaner
  (which deletes a reliable checkpoint's files only when
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on).
- :func:`fixpoint` is the iterative loop built on the two checkpoint
  helpers: :func:`checkpoint` the state, release the checkpoint it
  supersedes, step. Its optional stop signal is an aggregate observed
  on each checkpoint's own job; stopping when the value repeats is
  sound only when an equal observed value means an equal state.

Every eager checkpoint in the package goes through :func:`checkpoint`,
and it is the one place that picks the kind. When the SparkContext has
a checkpoint directory (``sc.setCheckpointDir``), checkpoints are
reliable: written to that directory, they survive the loss of the
executor that computed them. Without one they are local: kept in the
executors' block managers, cheaper, but gone with their executor, and
a consumer of a lost block fails instead of recomputing. This is Spark
MLlib's ``checkpointInterval`` rule; the directory is the switch, there
is no option. :func:`release_checkpoint` unpersists a local
checkpoint's blocks and deletes a reliable checkpoint's directory, so
release discipline is the same for both kinds.

All releases are best-effort, and unpersists are non-blocking: at
interpreter shutdown the JVM gateway may already be gone, and a failed
release just means falling back to Spark's own GC-driven cleanup.
"""

from __future__ import annotations

import weakref
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.storagelevel import StorageLevel


def scoped_persist(
    scratch: DataFrame,
    result: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``scratch`` for as long as ``result`` is referenced.

    Returns ``result`` (for tail-position use). MEMORY_AND_DISK by
    default so a 100 TB-scale scratch set spills instead of evicting
    mid-job.
    """
    scratch.persist(level)
    jdf = scratch._jdf

    def _release() -> None:
        try:
            jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — gateway may be gone at shutdown
            pass

    fin = weakref.finalize(result, _release)
    result.__dict__.setdefault("_scoped_releases", []).append((fin, _release))
    return result


def rescope(src: DataFrame, derived: DataFrame) -> DataFrame:
    """Move ``src``'s scoped-persist release hooks onto ``derived``.

    A caller that derives a new frame from a :func:`scoped_persist`
    result and drops the original handle at build time would otherwise
    fire the release before any action runs — the persist evaporates
    exactly when the derived plan still needs it.  ``rescope`` detaches
    the finalizers from ``src`` and re-anchors them to ``derived``, so
    the scratch caches live as long as the frame that will actually be
    executed.  Returns ``derived`` for tail-position use.
    """
    for fin, release in src.__dict__.pop("_scoped_releases", []):
        fin.detach()
        new_fin = weakref.finalize(derived, release)
        derived.__dict__.setdefault("_scoped_releases", []).append((new_fin, release))
    return derived


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD backing an eager checkpoint (a LogicalRDD leaf).
    Returns None for plans that aren't checkpoint leaves."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:  # noqa: BLE001 — non-LogicalRDD plan / gateway gone
        return None


def release_checkpoint(df: DataFrame) -> None:
    """Immediately drop what backs a :func:`checkpoint`'d frame: the
    blocks of a local checkpoint, the files of a reliable one.

    Only call once every plan derived from ``df`` has either been
    executed or re-checkpointed — after this the data is gone and the
    checkpoint leaf cannot be recomputed (the lineage was truncated;
    this just makes the release prompt instead of waiting for JVM GC).
    """
    rdd = _checkpoint_rdd(df)
    if rdd is None:
        return
    try:
        rdd.unpersist(False)
        files = rdd.getCheckpointFile()
        if files.isDefined():
            jvm = df.sparkSession.sparkContext._jvm
            path = jvm.org.apache.hadoop.fs.Path(files.get())
            hadoop_conf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
            path.getFileSystem(hadoop_conf).delete(path, True)
    except Exception:  # noqa: BLE001
        pass


def checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df``: reliably into the context's checkpoint
    directory when one is set, ``localCheckpoint`` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n_steps: int,
    signal: Column | None = None,
) -> DataFrame:
    """Apply ``step`` ``n_steps`` times, checkpointing before each step.

    Each step's input is an eager :func:`checkpoint`, so the plan stays
    linear in ``n_steps``. Each new checkpoint releases the one it
    supersedes; the final one is left to the ContextCleaner. After
    ``n_steps`` steps the last step's frame is returned lazily.

    ``signal`` is an aggregate over the state, observed on each
    checkpoint's own job. Without it every step runs. With it the loop
    stops at the first checkpoint whose value repeats the previous one
    and returns that checkpoint. This is sound only when an equal
    observed value means an equal state, so that every remaining step
    would recompute it unchanged: ``F.count(F.lit(1))`` for a grow-only
    or shrink-only row set, an exact sum for a column no step ever
    increases over a fixed key set, and a struct of both for a grow-only
    key set whose column never rises (the count fixes the keys, then the
    sum fixes the values). Each step gets a fresh unnamed
    ``Observation`` so loops on concurrent driver threads never share
    one.
    """
    prev: DataFrame | None = None
    prev_v: object = object()
    for _ in range(n_steps):
        if signal is not None:
            seen = Observation()
            state = state.observe(seen, signal.alias("v"))
        state = checkpoint(state)
        if prev is not None:
            release_checkpoint(prev)
        prev = state
        if signal is not None:
            v = seen.get["v"]
            if v == prev_v:
                break
            prev_v = v
        state = step(state)
    return state

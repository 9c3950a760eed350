"""Stage API: the reference's one true data operator, Spark-first.

Reference parity map (citations into /root/reference):

- ``Stage.process_data(list[T]) -> list[V] | None`` with one-time
  ``setup()`` and per-worker model state
  (``cosmos_xenna/pipelines/private/specs.py:285-299``, invoked at
  ``cosmos_xenna/ray_utils/stage_worker.py:769-815``)  ->
  ``process_data(pandas.DataFrame) -> pandas.DataFrame | None`` inside
  ``mapInPandas``, with a per-executor-process singleton cache standing
  in for the reference's per-actor state.
- ``stage_batch_size`` (``specs.py:97-103``): batches are re-chunked
  inside the UDF so ``process_data`` sees exactly ``batch_size`` rows
  (final per-partition remainder excepted — the reference flushes its
  remainder per stage, ``streaming.py:1069-1088``).
- Filter/drop: return ``None`` or an empty frame
  (``specs.py:295-298``; drop logic ``actor_pool.py:2096-2098``).
- Dynamic fan-out/fan-in: output row count is unconstrained
  (``pipelines/v1/test_dynamic_splitting.py:45-110``).
- ``setup_on_node`` exactly-once-per-node (``specs.py:247-255``,
  election ``actor_pool.py:1066-1074``): executor-process file lock —
  first process on the host runs it, others wait. The lock and markers
  live in one per-driver temp directory that the driver removes at exit.
- Failure policy ``num_run_attempts_python`` / ``ignore_failures``
  (``specs.py:438-457``, retry ``stage_worker.py:792-815``): in-UDF
  retry loop + drop-on-failure; worker-level retries remain Spark's
  ``spark.task.maxFailures``.
- ``destroy()`` (``specs.py:268-283``): invoked when the partition
  iterator is exhausted, with an ``atexit`` fallback for interpreter
  teardown (reference reaps via ``actor_pool.py:220-298``).
- ``Resources(cpus, gpus)`` (``resources.py:408-472``): carried on the
  stage; on a cluster this maps to a stage-level ResourceProfile /
  ``spark.task.resource.gpu.amount`` (see ``to_spark_confs``). The
  reference's autoscaler/bin-packer (~6k LoC Rust) is intentionally NOT
  ported — the Spark scheduler owns placement (SURVEY.md §4.1).

Everything crosses the JVM/Python boundary via Arrow batches; there is
no driver-side materialization anywhere (the 100 TB rule).
"""

from __future__ import annotations

import atexit
import functools
import inspect
import os
import shutil
import socket
import tempfile
import threading
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (re-exported convenience)


@dataclass(frozen=True)
class WorkerMetadata:
    """What the reference hands to ``setup(worker_metadata)``
    (reference ``specs.py:247-268``, allocation info from the
    scheduler): a stable worker id, the node it runs on, and the GPUs
    visible to this process."""

    worker_id: str
    node: str
    gpu_ids: tuple[str, ...]


def _current_worker_metadata() -> WorkerMetadata:
    cuda = os.environ.get("CUDA_VISIBLE_DEVICES", "")
    gpus = tuple(g for g in cuda.split(",") if g) if cuda else ()
    return WorkerMetadata(
        worker_id=f"{socket.gethostname()}:{os.getpid()}",
        node=socket.gethostname(),
        gpu_ids=gpus,
    )


@dataclass(frozen=True)
class Resources:
    """Per-worker resource shape (reference ``resources.py:408-472``).

    ``gpus`` may be fractional (reference ``FractionalGpu``); ``is_spmd``
    marks barrier-mode stages (see operators.spmd).
    """

    cpus: float = 1.0
    gpus: float = 0.0
    is_spmd: bool = False

    def to_spark_confs(self) -> dict[str, str]:
        """Cluster-mode mapping: task-level resource requests.

        On local[N] these are inert; on a real cluster attach them to
        the session (or a ResourceProfile at this stage's boundary).
        """
        confs = {"spark.task.cpus": str(max(1, int(self.cpus)))}
        if self.gpus > 0:
            confs["spark.task.resource.gpu.amount"] = str(self.gpus)
        return confs


class Stage:
    """User-defined stateful batched map. Subclass and override.

    The engine guarantees, per executor *process*:
    - ``setup_on_node()`` ran exactly once per host before any batch;
    - ``setup()`` ran exactly once per process before any batch;
    - ``process_data(pdf)`` receives ``batch_size``-row frames (final
      partition remainder may be smaller);
    - ``destroy()`` runs when the partition is exhausted.
    """

    batch_size: int | None = None  # None -> take Arrow batches as-is
    resources: Resources = Resources()
    # failure policy (reference specs.py:438-457)
    num_run_attempts: int = 1
    ignore_failures: bool = False

    def setup_on_node(self) -> None:  # pragma: no cover - default no-op
        pass

    def setup(self) -> None:  # pragma: no cover - default no-op
        """Override with either ``setup(self)`` or
        ``setup(self, worker_metadata: WorkerMetadata)`` — the engine
        passes metadata when the signature asks for it (reference
        ``setup(worker_metadata)`` form)."""
        pass

    def process_data(self, batch: pd.DataFrame) -> pd.DataFrame | None:
        raise NotImplementedError

    def destroy(self) -> None:  # pragma: no cover - default no-op
        pass


# Per-executor-process stage state (the reference keeps this on the Ray
# actor; Spark reuses python worker processes across tasks, so a module
# global keyed by run-unique id is the equivalent lifetime).
_PROCESS_CACHE: dict[str, Stage] = {}
_CACHE_LOCK = threading.Lock()


_NODE_SETUP_WAIT_S = 300.0


def _read_lock_pid(lock: str) -> int | None:
    """The PID recorded in the lock file; None if missing/unreadable.

    An unreadable lock (a foreign writer — our protocol always links
    the PID in atomically) reads as None and is treated as not-alive:
    waiters then treat a recorded failure as final rather than waiting
    on a holder that may never finish."""
    try:
        with open(lock) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _pid_alive(pid: int) -> bool:
    """Signal-0 liveness probe.

    EPERM means the process EXISTS but belongs to another uid — on a
    shared host that holder is alive and must not have its lock stolen
    (treating it as dead double-ran ``setup_on_node``).
    """
    try:
        os.kill(pid, 0)
        return True
    except PermissionError:
        return True
    except OSError:
        return False


def _steal_stale_lock(lock: str, dead_pid: int | None) -> None:
    """Unlink ``lock`` iff it still records ``dead_pid``, atomically
    w.r.t. concurrent stealers.

    The mutex (O_EXCL create) serializes the recheck+unlink so no
    stealer can act on a read that predates another stealer's
    re-acquisition. A mutex abandoned by a crashed stealer only guards
    a microseconds-long section, so one older than 5s is broken — and
    the caller's overall deadline bounds the pathological cases.
    """
    mutex = lock + ".steal"
    try:
        fd = os.open(mutex, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            if time.time() - os.path.getmtime(mutex) > 5.0:
                os.unlink(mutex)
        except OSError:
            pass
        return  # another stealer is in the section; let the loop retry
    try:
        os.close(fd)
        if _read_lock_pid(lock) == dead_pid:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass
    finally:
        try:
            os.unlink(mutex)
        except OSError:
            pass


@functools.cache
def _driver_scope() -> str:
    """This driver's run-id prefix, which names the directory that holds
    its node-setup markers.

    Workers keep a run's marker, lock and failure record under
    ``<tempdir>/cxs_node_setup_<scope>/``, and the driver removes its own
    host's copy at exit, as it does its socket directory. On a cluster
    the other hosts keep one such directory per driver."""
    scope = uuid.uuid4().hex
    path = os.path.join(tempfile.gettempdir(), f"cxs_node_setup_{scope}")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return scope


def _node_setup_once(stage: Stage, run_id: str) -> None:
    """Exactly-once-per-host ``setup_on_node`` via file lock election.

    Reference elects one actor per node and others wait
    (``actor_pool.py:1066-1074``, ``:1330-1388``).

    Failure handling: if the elected process's ``setup_on_node`` raises,
    it records the error in a failure marker and releases the lock, so
    waiters (and task retries) fail fast with the original error instead
    of spinning forever on a 'done' marker that will never appear.

    Liveness handling (round-2 advisory): the lock file records the
    holder's PID.

    - A waiter that sees a failure marker raises only if no LIVE holder
      currently owns the lock — a live holder is a re-election in
      progress that is about to clear the stale marker, and raising on
      it would fail a retry that was going to succeed (TOCTOU).
    - A waiter that finds a DEAD holder (process crashed between
      acquiring the lock and writing the done/failed marker) steals the
      lock and re-runs the election itself instead of burning the full
      timeout on a marker that can never appear (stale-lock deadlock).
    """
    marker = os.path.join(tempfile.gettempdir(), f"cxs_node_setup_{run_id}")
    failed = marker + ".failed"
    lock = marker + ".lock"
    os.makedirs(os.path.dirname(marker), exist_ok=True)

    def try_acquire() -> bool:
        # Atomic acquire-with-PID: the PID is IN the file before the
        # lock name exists (hard link), so no observer ever sees an
        # empty lock from this protocol — stealers can't misjudge a
        # just-elected live holder as dead.
        tmp = f"{lock}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(str(os.getpid()))
        try:
            os.link(tmp, lock)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    deadline = time.monotonic() + _NODE_SETUP_WAIT_S
    while not try_acquire():
        if os.path.exists(marker):
            return
        holder_pid = _read_lock_pid(lock)
        holder_alive = holder_pid is not None and _pid_alive(holder_pid)
        if os.path.exists(failed) and not holder_alive:
            with open(failed) as f:
                raise RuntimeError(
                    f"setup_on_node failed on this host: {f.read()}"
                )
        if not holder_alive and not os.path.exists(marker):
            # Holder died mid-setup: break its lock and re-elect. The
            # recheck-then-unlink must be ATOMIC w.r.t. other stealers:
            # without it, waiter B's recheck can pass just before
            # stealer A unlinks and re-acquires, and B then removes A's
            # FRESH lock — letting a third process elect concurrently
            # with A (the exactly-once violation). A rename-capture
            # steal has the mirror-image flaw (capturing a live
            # holder's lock leaves the path vacant while it's "put
            # back"), so instead the check-and-unlink section is
            # serialized through a steal mutex: inside it, a stealer
            # sees either the stale dead lock (steal it), a fresh live
            # lock (back off), or no lock (race already resolved).
            _steal_stale_lock(lock, holder_pid)
            continue
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"setup_on_node not completed within {_NODE_SETUP_WAIT_S}s "
                f"(marker {marker}); elected process may have died"
            )
        time.sleep(0.05)
    try:
        if os.path.exists(failed):
            os.unlink(failed)  # re-election after a failure: clear it
        stage.setup_on_node()
        with open(marker, "w") as m:
            m.write("done")
    except Exception as e:
        with open(failed, "w") as f:
            f.write(repr(e))
        # release the election so a retried task can attempt setup again
        os.unlink(lock)
        raise


def _get_stage_instance(stage_factory, run_id: str) -> Stage:
    with _CACHE_LOCK:
        inst = _PROCESS_CACHE.get(run_id)
        if inst is None:
            inst = stage_factory()
            _node_setup_once(inst, run_id)
            if len(inspect.signature(inst.setup).parameters) >= 1:
                inst.setup(_current_worker_metadata())
            else:
                inst.setup()
            _PROCESS_CACHE[run_id] = inst
            atexit.register(inst.destroy)
    return inst


def _rebatch(batches: Iterator[pd.DataFrame], size: int | None) -> Iterator[pd.DataFrame]:
    """Re-chunk an Arrow batch stream to exactly ``size`` rows
    (reference Queue.maybe_get_batch, ``streaming.py:767-846``)."""
    if size is None:
        yield from batches
        return
    buf: list[pd.DataFrame] = []
    buffered = 0
    for pdf in batches:
        while len(pdf) > 0:
            take = min(size - buffered, len(pdf))
            buf.append(pdf.iloc[:take])
            buffered += take
            pdf = pdf.iloc[take:]
            if buffered == size:
                yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                buf, buffered = [], 0
    if buffered:
        yield pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]


def make_map_in_pandas_fn(stage_factory, run_id: str | None = None):
    """Compile a Stage factory into a mapInPandas UDF body."""
    run_id = run_id or os.path.join(_driver_scope(), uuid.uuid4().hex)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        stage = _get_stage_instance(stage_factory, run_id)
        try:
            for pdf in _rebatch(batches, stage.batch_size):
                out = None
                last_err: Exception | None = None
                for _ in range(max(1, stage.num_run_attempts)):
                    try:
                        out = stage.process_data(pdf)
                        last_err = None
                        break
                    except Exception as e:  # retry per reference policy
                        last_err = e
                if last_err is not None:
                    if stage.ignore_failures:
                        continue  # drop the batch (reference ignore_failures)
                    raise last_err
                if out is not None and len(out) > 0:
                    yield out
        finally:
            # Per-partition destroy would break the per-process model
            # cache; rely on atexit (registered in _get_stage_instance)
            # the way the reference destroys on actor teardown.
            pass

    return fn


def stage_resource_profile(resources: Resources):
    """Build the Spark ResourceProfile for a stage's worker shape.

    This is the port of the reference's per-stage ``WorkerShape``
    (reference ``resources.py:408-472``): task-level CPU count and
    (possibly fractional) GPU amount, bound at the stage boundary via
    stage-level scheduling instead of a custom bin-packer.
    """
    from pyspark.resource import ResourceProfileBuilder, TaskResourceRequests

    treqs = TaskResourceRequests().cpus(max(1, int(resources.cpus)))
    if resources.gpus > 0:
        treqs = treqs.resource("gpu", resources.gpus)
    return ResourceProfileBuilder().require(treqs).build


def _profile_for(df: DataFrame, stage: Stage):
    """ResourceProfile when the stage needs one and the cluster manager
    supports it (Standalone/YARN/K8s); None on local[*] where Spark
    rejects task-level profiles — the shape declaration still documents
    intent and binds the moment the same code runs on a cluster."""
    r = stage.resources
    if r.gpus <= 0 and r.cpus <= 1:
        return None
    if df.sparkSession.sparkContext.master.startswith("local"):
        return None
    return stage_resource_profile(r)


def apply_stage(df: DataFrame, stage_factory, output_schema) -> DataFrame:
    """Run one Stage over a DataFrame: the reference's A3 operator.

    ``output_schema`` is the declared result schema (DDL string or
    StructType) — the port is schema-first where the reference was
    schema-free (SURVEY.md §1.3). GPU/multi-CPU stages get a
    stage-level ResourceProfile on cluster deployments.
    """
    profile = _profile_for(df, stage_factory())
    return df.mapInPandas(
        make_map_in_pandas_fn(stage_factory), schema=output_schema, profile=profile
    )

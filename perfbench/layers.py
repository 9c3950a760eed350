"""Layer attribution from the benchmark's own spans and Spark's event log.

The benchmark records spans around its calls into the engine (run ->
pass -> query -> build / execute) and, on a traced run, reads Spark's
local event log afterwards. Jobs, stages and tasks from the log become
child spans of the query span whose job group (``setJobGroup``) or time
window holds them. Everything here is pure Python over plain data so it
can be tested on a fabricated log.

Times are seconds on one clock: spans use ``time.time()`` and the event
log's millisecond timestamps are divided by 1000.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
from dataclasses import dataclass, field

# ---------------------------------------------------------------- intervals


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(child_intervals, start, end)


# ---------------------------------------------------------------- percentiles


def supported_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile that has at least ``min_beyond`` of
    ``n`` samples above it, or None when ``n`` is too small for any."""
    if n <= min_beyond:
        return None
    return min(99, math.floor(100 * (n - min_beyond) / n))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    k = max(1, math.ceil(p * len(xs) / 100))  # p * n is exact for whole p
    return xs[k - 1]


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    kind: str  # run | pass | query | build | execute | job | stage | task
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span list; ids are list indices. ``add`` may be called
    from the streaming sink's callback thread too."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name, kind, start, end, parent=None, **attrs) -> int:
        with self._lock:
            self.spans.append(Span(name, kind, start, end, parent, attrs))
            return len(self.spans) - 1

    def dump(self, path: str) -> None:
        rows = [
            {"id": i, "name": s.name, "kind": s.kind, "start": s.start, "end": s.end,
             "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    group: str | None
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    start: float
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    deser_s: float
    sched_delay_s: float
    shuffle_write_b: int
    fetch_wait_s: float
    spill_b: int
    accums: dict


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, tuple[float, float, int]]  # id -> (start, end, n_tasks)
    tasks: list[Task]


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the one application under ``log_dir``: Spark 4's
    rolling layout (``eventlog_v2_<app>/events_<n>_<app>``) in index
    order, or a single legacy file."""
    rolling = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*")))
    if rolling:
        files = glob.glob(os.path.join(rolling[-1], "events_*"))
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _task(ev: dict) -> Task | None:
    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics")
    if not m:
        return None
    launch, finish = info["Launch Time"] / 1000, info["Finish Time"] / 1000
    fetch_start = info.get("Getting Result Time", 0) / 1000
    getting = (finish - fetch_start) if fetch_start > 0 else 0.0
    run = m["Executor Run Time"] / 1000
    deser = m["Executor Deserialize Time"] / 1000
    ser = m.get("Result Serialization Time", 0) / 1000
    # the Spark UI's scheduler-delay formula
    delay = max(0.0, (finish - launch) - run - deser - ser - getting)
    accums = {}
    for a in info.get("Accumulables", []):
        name = a.get("Name")
        if not name or name.startswith("internal."):
            continue
        try:  # SQL metric updates arrive as numeric strings
            accums[name] = accums.get(name, 0) + float(a.get("Update"))
        except (TypeError, ValueError):
            pass
    return Task(
        stage_id=ev["Stage ID"],
        start=launch,
        end=finish,
        run_s=run,
        cpu_s=m["Executor CPU Time"] / 1e9,
        gc_s=m["JVM GC Time"] / 1000,
        deser_s=deser,
        sched_delay_s=delay,
        shuffle_write_b=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        fetch_wait_s=m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1000,
        spill_b=m.get("Disk Bytes Spilled", 0),
        accums=accums,
    )


def read_event_log(log_dir: str) -> EventLog:
    starts: dict[int, tuple[float, str | None, list[int]]] = {}
    jobs: list[Job] = []
    stages: dict[int, tuple[float, float, int]] = {}
    tasks: list[Task] = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    starts[ev["Job ID"]] = (
                        ev["Submission Time"] / 1000,
                        props.get("spark.jobGroup.id"),
                        list(ev.get("Stage IDs", [])),
                    )
                elif kind == "SparkListenerJobEnd":
                    st = starts.pop(ev["Job ID"], None)
                    if st is not None:
                        jobs.append(Job(ev["Job ID"], st[0], ev["Completion Time"] / 1000,
                                        st[1], st[2]))
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if "Submission Time" in si and "Completion Time" in si:
                        stages[si["Stage ID"]] = (
                            si["Submission Time"] / 1000,
                            si["Completion Time"] / 1000,
                            si.get("Number of Tasks", 0),
                        )
                elif kind == "SparkListenerTaskEnd":
                    t = _task(ev)
                    if t is not None:
                        tasks.append(t)
    jobs.sort(key=lambda j: j.start)
    return EventLog(jobs, stages, tasks)


def attach_event_log(tracer: Tracer, log: EventLog) -> None:
    """Add the log's jobs, stages and tasks as child spans of the
    build/execute span that owns them: by job group when the job carries
    one, else by the span whose window holds the job's submission."""
    owners = [
        (i, s) for i, s in enumerate(tracer.spans) if s.kind in ("build", "execute")
    ]
    by_group = {s.attrs.get("group"): i for i, s in owners if s.attrs.get("group")}
    stage_owner: dict[int, int] = {}
    for job in log.jobs:
        owner = by_group.get(job.group)
        if owner is None:
            owner = next((i for i, s in owners if s.start <= job.start < s.end), None)
        if owner is None:
            continue
        jid = tracer.add(f"job {job.job_id}", "job", job.start, job.end, owner)
        for sid in job.stage_ids:
            if sid in log.stages and sid not in stage_owner:
                st = log.stages[sid]
                stage_owner[sid] = tracer.add(f"stage {sid}", "stage", st[0], st[1], jid,
                                              n_tasks=st[2])
    for t in log.tasks:
        owner = stage_owner.get(t.stage_id)
        if owner is not None:
            tracer.add("task", "task", t.start, t.end, owner, run_s=t.run_s)


# ---------------------------------------------------------------- layer split


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"  # milliseconds


def driver_split(tracer: Tracer, span_ids) -> dict[str, float]:
    """Per span: in-jobs time (union of the job spans under it, directly or
    under its build/execute phases) and gap (the rest, its self time over
    jobs), summed with the job count over ``span_ids``. By construction
    span = in_jobs + gap for every span."""
    span_s = gap_s = 0.0
    n_jobs = 0
    for sid in span_ids:
        s = tracer.spans[sid]
        owners = {sid} | {i for i, c in enumerate(tracer.spans) if c.parent == sid}
        jobs = [(j.start, j.end) for j in tracer.spans if j.kind == "job" and j.parent in owners]
        span_s += s.dur
        gap_s += self_time(s.start, s.end, jobs)
        n_jobs += len(jobs)
    return {"span_s": span_s, "in_jobs_s": span_s - gap_s, "gap_s": gap_s, "jobs": n_jobs}


def pass_layers(tracer: Tracer, pass_id: int, log: EventLog, cores: int) -> dict[str, float]:
    """Per-layer numbers for one pass (every query span under it). The
    driver gap is taken over whole query spans: the engine's iterative
    builders run most of their jobs eagerly, inside the build phase."""
    qids = [i for i, s in enumerate(tracer.spans) if s.parent == pass_id and s.kind == "query"]
    phase_ids = [i for i, s in enumerate(tracer.spans)
                 if s.parent in qids and s.kind in ("build", "execute")]
    phase_s = {"build": 0.0, "execute": 0.0}
    for i in phase_ids:
        phase_s[tracer.spans[i].kind] += tracer.spans[i].dur
    split = driver_split(tracer, qids)
    job_ids = [i for i, s in enumerate(tracer.spans) if s.kind == "job" and s.parent in phase_ids]
    jobs = [tracer.spans[i] for i in job_ids]
    stage_spans = [s for s in tracer.spans if s.kind == "stage" and s.parent in job_ids]
    stage_ids = {int(s.name.split()[1]) for s in stage_spans}
    tasks = [t for t in log.tasks if t.stage_id in stage_ids]
    busy = union_length([(j.start, j.end) for j in jobs])
    run_s = sum(t.run_s for t in tasks)
    mb = 1024 * 1024
    return {
        "driver.build_s": phase_s["build"],
        "driver.exec_s": phase_s["execute"],
        "driver.gap_s": split["gap_s"],
        "driver.gap_frac": split["gap_s"] / split["span_s"] if split["span_s"] else 0.0,
        "job.count": float(len(jobs)),
        "stage.count": float(len(stage_spans)),
        "job.busy_s": busy,
        "task.count": float(len(tasks)),
        "task.run_s": run_s,
        "task.cpu_s": sum(t.cpu_s for t in tasks),
        "task.gc_s": sum(t.gc_s for t in tasks),
        "task.sched_delay_s": sum(t.sched_delay_s for t in tasks),
        "task.deser_s": sum(t.deser_s for t in tasks),
        "task.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / mb,
        "task.fetch_wait_s": sum(t.fetch_wait_s for t in tasks),
        "task.spill_mb": sum(t.spill_b for t in tasks) / mb,
        "task.core_util": run_s / (cores * busy) if busy else 0.0,
        "pyworker.mb_to_py": sum(t.accums.get(PY_SENT, 0) for t in tasks) / mb,
        "pyworker.mb_from_py": sum(t.accums.get(PY_RECV, 0) for t in tasks) / mb,
        "pyworker.exec_s": sum(t.accums.get(PY_TIME, 0) for t in tasks) / 1000,
    }

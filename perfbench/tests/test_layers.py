"""Interval union, self time and the driver gap split, checked on a
fabricated Spark 4.1 rolling event log (``eventlog_v2_<app>/events_<n>_<app>``);
the supported-percentile rule."""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench.layers import (
    Tracer,
    attach_event_log,
    driver_split,
    event_log_files,
    pass_layers,
    percentile,
    read_event_log,
    self_time,
    supported_percentile,
    union_length,
)

T0 = 1_700_000_000.0  # span clock origin (epoch seconds)
APP = "local-1700000000000"


def ms(t: float) -> int:
    return int(round((T0 + t) * 1000))


def test_union_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 2), (2, 3)]) == pytest.approx(3.0)
    assert union_length([(0, 10)], 2, 5) == pytest.approx(3.0)
    assert union_length([(0, 1), (4, 9)], 2, 5) == pytest.approx(1.0)


def test_self_time_subtracts_only_covered_part():
    # children overlap each other and stick out of the parent
    assert self_time(0, 10, [(-1, 2), (1, 4), (8, 12)]) == pytest.approx(4.0)
    assert self_time(0, 10, []) == pytest.approx(10.0)


def _job_start(job_id, t, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": ms(t),
            "Stage IDs": stages, "Properties": props}


def _job_end(job_id, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": ms(t),
            "Job Result": {"Result": "JobSucceeded"}}


def _stage(stage_id, start, end, n_tasks):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage_id, "Submission Time": ms(start),
                           "Completion Time": ms(end), "Number of Tasks": n_tasks}}


def _task(stage_id, start, end, run_ms, py_sent=0):
    accums = [{"Name": "internal.metrics.executorRunTime", "Update": run_ms},
              {"Name": "number of output rows", "Update": "7"}]
    if py_sent:
        accums += [{"Name": "data sent to Python workers", "Update": str(py_sent)},
                   {"Name": "time to run Python workers", "Update": "250"}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
        "Task Info": {"Launch Time": ms(start), "Finish Time": ms(end),
                      "Getting Result Time": 0, "Accumulables": accums},
        "Task Metrics": {
            "Executor Deserialize Time": 10, "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000, "JVM GC Time": 5,
            "Result Serialization Time": 0, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
            "Shuffle Read Metrics": {"Fetch Wait Time": 3},
        },
    }


def _write_rolling_log(log_dir: str) -> None:
    """One query: build runs job 0 (its group), execute runs jobs 1-2
    (overlapping, its group) and job 3 (no group, inside its window).
    Events are split over two rolling files plus the app-status marker."""
    app_dir = os.path.join(log_dir, f"eventlog_v2_{APP}")
    os.makedirs(app_dir)
    first = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": ms(0)},
        _job_start(0, 0.2, [0], "warm1:q:build"),
        _stage(0, 0.2, 0.5, 1), _task(0, 0.25, 0.45, 150),
        _job_end(0, 0.5),
        _job_start(1, 2.0, [1, 2], "warm1:q:execute"),
        _job_start(2, 3.0, [3], "warm1:q:execute"),
    ]
    second = [
        _stage(1, 2.0, 3.5, 2), _task(1, 2.1, 3.0, 800), _task(1, 2.1, 3.4, 1200),
        _stage(3, 3.0, 5.0, 1), _task(3, 3.1, 4.9, 1700, py_sent=2 * 1024 * 1024),
        _job_end(1, 4.0),
        _job_end(2, 5.0),
        _job_start(3, 7.0, [4]),
        _stage(4, 7.0, 8.0, 1), _task(4, 7.1, 7.9, 700),
        _job_end(3, 8.0),
    ]
    # stage 2 was skipped (its shuffle output was reused): no completion event
    for idx, events in ((2, second), (1, first)):  # written out of order on purpose
        with open(os.path.join(app_dir, f"events_{idx}_{APP}"), "w") as f:
            f.write("\n".join(json.dumps(e) for e in events) + "\n")
    with open(os.path.join(app_dir, f"appstatus_{APP}"), "w"):
        pass


@pytest.fixture
def traced(tmp_path):
    _write_rolling_log(str(tmp_path))
    tr = Tracer()
    run = tr.add("run", "run", T0, T0 + 11)
    pas = tr.add("warm1", "pass", T0, T0 + 10, run)
    q = tr.add("q", "query", T0, T0 + 10, pas)
    tr.add("q", "build", T0, T0 + 1, q, group="warm1:q:build")
    ex = tr.add("q", "execute", T0 + 1, T0 + 10, q, group="warm1:q:execute")
    log = read_event_log(str(tmp_path))
    attach_event_log(tr, log)
    return tr, log, pas, q, ex, str(tmp_path)


def test_rolling_files_are_read_in_index_order(traced):
    *_, log_dir = traced
    names = [os.path.basename(p) for p in event_log_files(log_dir)]
    assert names == [f"events_1_{APP}", f"events_2_{APP}"]


def test_jobs_attach_by_group_then_by_window(traced):
    tr, log, _pas, _q, ex, _ = traced
    assert [j.job_id for j in log.jobs] == [0, 1, 2, 3]
    owners = {s.name: s.parent for s in tr.spans if s.kind == "job"}
    build = ex - 1
    assert owners == {"job 0": build, "job 1": ex, "job 2": ex, "job 3": ex}
    # the skipped stage 2 has no span; the other stages sit under their job
    stages = sorted(s.name for s in tr.spans if s.kind == "stage")
    assert stages == ["stage 0", "stage 1", "stage 3", "stage 4"]
    assert sum(1 for s in tr.spans if s.kind == "task") == 5


def test_execute_span_equals_in_jobs_plus_gap(traced):
    tr, _log, _pas, q, ex, _ = traced
    split = driver_split(tr, [ex])
    # jobs 1 and 2 overlap: [2, 5] + job 3 [7, 8] = 4 s inside jobs of a 9 s span
    assert split["span_s"] == pytest.approx(9.0)
    assert split["in_jobs_s"] == pytest.approx(4.0)
    assert split["gap_s"] == pytest.approx(5.0)
    assert split["span_s"] == pytest.approx(split["in_jobs_s"] + split["gap_s"])
    # the gap is the execute span's self time over its job children
    jobs = [(s.start, s.end) for s in tr.spans if s.kind == "job" and s.parent == ex]
    assert self_time(tr.spans[ex].start, tr.spans[ex].end, jobs) == pytest.approx(5.0)


def test_query_gap_counts_jobs_of_both_phases(traced):
    tr, _log, _pas, q, _ex, _ = traced
    split = driver_split(tr, [q])
    # the build phase's job 0 [0.2, 0.5] is in a job too
    assert split["span_s"] == pytest.approx(10.0)
    assert split["in_jobs_s"] == pytest.approx(4.3)
    assert split["span_s"] == pytest.approx(split["in_jobs_s"] + split["gap_s"])
    assert split["jobs"] == 4


def test_pass_layers_sum_the_pass(traced):
    tr, log, pas, *_ = traced
    lay = pass_layers(tr, pas, log, cores=4)
    assert lay["driver.build_s"] == pytest.approx(1.0)
    assert lay["driver.exec_s"] == pytest.approx(9.0)
    assert lay["driver.gap_s"] == pytest.approx(5.7)
    assert lay["driver.gap_frac"] == pytest.approx(5.7 / 10.0)
    assert lay["job.count"] == 4 and lay["stage.count"] == 4 and lay["task.count"] == 5
    assert lay["job.busy_s"] == pytest.approx(0.3 + 3.0 + 1.0)
    assert lay["task.run_s"] == pytest.approx(0.15 + 0.8 + 1.2 + 1.7 + 0.7)
    assert lay["task.cpu_s"] == pytest.approx(lay["task.run_s"] / 2)
    assert lay["task.core_util"] == pytest.approx(lay["task.run_s"] / (4 * 4.3))
    assert lay["task.shuffle_write_mb"] == pytest.approx(5.0)
    assert lay["pyworker.mb_to_py"] == pytest.approx(2.0)
    assert lay["pyworker.exec_s"] == pytest.approx(0.25)


@pytest.mark.parametrize("n", [0, 1, 10])
def test_no_tail_without_ten_samples_beyond(n):
    assert supported_percentile(n) is None


def test_supported_percentile_is_the_highest_with_ten_beyond():
    assert supported_percentile(11) == 9
    assert supported_percentile(100) == 90
    assert supported_percentile(1000) == 99
    assert supported_percentile(100_000) == 99  # capped at p99
    for n in range(11, 3000):
        p = supported_percentile(n)
        beyond = n - math.ceil(p * n / 100)
        assert beyond >= 10, n
        if p < 99:
            assert n - math.ceil((p + 1) * n / 100) < 10, n


def test_percentile_is_nearest_rank():
    xs = list(range(1, 1001))
    assert percentile(xs, 99) == 990
    assert percentile(xs, 50) == 500
    assert percentile([5.0], 99) == 5.0

"""Smoke-run the examples end-to-end (VERDICT r3 #9: the reference's
examples are CI-run shapes — ``/root/reference/examples/
simple_vlm_inference.py`` executes in its CI; ours must not rot).

Each example owns its SparkSession lifecycle (get_spark + stop), so
they run as subprocesses rather than inside the shared test session.
An example runs only if a selected test asks for it (``@pytest.mark.
example``), at most once per module. The selected ones launch
CONCURRENTLY when the first of them is asked for (4 in flight, each on
local[4] — 16 cores peak): run sequentially they cost ~6 minutes of
almost pure session-startup serialization, a quarter of the whole
suite's wall time (the r12 driver pytest truncation, VERDICT r12 item
2). Each test still owns its own assertions and fails independently —
a timeout included.
"""

from __future__ import annotations

import os
import subprocess
import sys
from concurrent.futures import Future, ThreadPoolExecutor

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
TIMEOUT_S = 600

# ``{out}`` is a per-module scratch directory.
_EXAMPLES: dict[str, list[str]] = {
    "dedup_and_search": ["examples/dedup_and_search.py", SF],
    "vlm_caption_pipeline": ["examples/vlm_caption_pipeline.py", SF, "{out}/captions"],
    "curate_and_shard": ["examples/curate_and_shard.py", SF],
    "tokenize_and_train_prep": ["examples/tokenize_and_train_prep.py", SF],
    "quality_audit_and_fusion": ["examples/quality_audit_and_fusion.py", SF],
    "streaming_analytics": ["examples/streaming_analytics.py", SF],
    "web_curation_pipeline": ["examples/web_curation_pipeline.py", SF],
    "graph_analytics_pipeline": ["examples/graph_analytics_pipeline.py", SF],
    "data_selection_pipeline": ["examples/data_selection_pipeline.py", SF],
    "video_curation_pipeline": ["examples/video_curation_pipeline.py", SF],
    "continuous_serving_pipeline": ["examples/continuous_serving_pipeline.py"],
    "experiment_analysis_pipeline": [
        "examples/experiment_analysis_pipeline.py",
        SF,
    ],
}


def _run(args: list[str]) -> subprocess.CompletedProcess:
    cmd = [sys.executable, *args]
    try:
        return subprocess.run(
            cmd,
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=TIMEOUT_S,
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        )
    except subprocess.TimeoutExpired as e:
        out, err = (
            x.decode(errors="replace") if isinstance(x, bytes) else x or ""
            for x in (e.stdout, e.stderr)
        )
        return subprocess.CompletedProcess(cmd, -1, out, f"{err}\ntimed out after {TIMEOUT_S} s")


class _ExampleRuns:
    """Memoised example subprocesses, started on first request."""

    def __init__(self, pool: ThreadPoolExecutor, out_dir: str, wanted: list[str]):
        self._pool, self._out_dir = pool, out_dir
        self._wanted = wanted
        self._runs: dict[str, Future] = {}

    def _start(self, name: str) -> Future:
        if name not in self._runs:
            args = [a.format(out=self._out_dir) for a in _EXAMPLES[name]]
            self._runs[name] = self._pool.submit(_run, args)
        return self._runs[name]

    def __getitem__(self, name: str) -> subprocess.CompletedProcess:
        for other in self._wanted:  # the session's other examples, in parallel
            self._start(other)
        return self._start(name).result()


@pytest.fixture(scope="module")
def example_results(request, tmp_path_factory):
    wanted = [
        m.args[0] for item in request.session.items for m in item.iter_markers("example")
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        yield _ExampleRuns(pool, str(tmp_path_factory.mktemp("examples")), wanted)


@pytest.fixture
def example(request, example_results) -> subprocess.CompletedProcess:
    return example_results[request.node.get_closest_marker("example").args[0]]


@pytest.mark.example("dedup_and_search")
def test_dedup_and_search_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "documents:" in example.stdout and "sample neighbors:" in example.stdout


@pytest.mark.example("vlm_caption_pipeline")
def test_vlm_caption_pipeline_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "captioned" in example.stdout


@pytest.mark.example("curate_and_shard")
def test_curate_and_shard_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "DQ report:" in example.stdout and "shards, sizes" in example.stdout


@pytest.mark.example("tokenize_and_train_prep")
def test_tokenize_and_train_prep_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "learned" in example.stdout and "training sequences" in example.stdout


@pytest.mark.example("quality_audit_and_fusion")
def test_quality_audit_and_fusion_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "hybrid top-" in example.stdout


@pytest.mark.example("streaming_analytics")
def test_streaming_analytics_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "live OHLC bars" in example.stdout and "attributed" in example.stdout


@pytest.mark.example("web_curation_pipeline")
def test_web_curation_pipeline_runs(example):
    assert example.returncode == 0, example.stdout[-2000:] + example.stderr[-2000:]
    assert "clusters straddling splits: 0" in example.stdout
    assert "OK" in example.stdout


@pytest.mark.example("graph_analytics_pipeline")
def test_graph_analytics_pipeline_runs(example):
    assert example.returncode == 0, example.stdout[-2000:] + example.stderr[-2000:]
    assert "trade loops:" in example.stdout
    assert "modularity" in example.stdout
    assert "OK" in example.stdout


@pytest.mark.example("data_selection_pipeline")
def test_data_selection_pipeline_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "mixture plan" in example.stdout and "after surprisal tail cut" in example.stdout


@pytest.mark.example("video_curation_pipeline")
def test_video_curation_pipeline_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "after IoU dedup" in example.stdout and "resolution buckets" in example.stdout
    assert "GPS-clean" in example.stdout and "shards" in example.stdout


@pytest.mark.example("continuous_serving_pipeline")
def test_continuous_serving_pipeline_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "continuous serving done: 600 requests scored" in example.stdout


@pytest.mark.example("experiment_analysis_pipeline")
def test_experiment_analysis_pipeline_example_runs(example):
    assert example.returncode == 0, example.stderr[-2000:]
    assert "experiment analysis done over" in example.stdout
    assert "SRM: split" in example.stdout and "Qini final:" in example.stdout

"""Stage-API tests mirroring the reference's e2e pipeline test style
(SURVEY.md §5 tier 1: trivial deterministic stages, exact assertions —
reference test_batching.py / test_dynamic_splitting.py /
test_empty_return.py / test_segfaulting_pipeline.py shapes)."""

from __future__ import annotations

import os
import sys
import tempfile

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.pipeline import PipelineSpec, StageSpec, run_pipeline_on_rows
from cosmos_xenna_spark.operators.stage import Resources, Stage, apply_stage

cloudpickle.register_pickle_by_value(sys.modules[__name__])


class Doubler(Stage):
    batch_size = 10

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(id=pdf["id"] * 2)


class BatchSizeRecorder(Stage):
    """Reference test_batching.py:23-50 asserts len(in_data)==batch_size."""

    batch_size = 7

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": pdf["id"], "bs": len(pdf)})


class FanOut10(Stage):
    """Reference test_dynamic_splitting.py: 1 input -> 10 outputs."""

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.loc[pdf.index.repeat(10)].reset_index(drop=True)


class DropOdd(Stage):
    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame | None:
        out = pdf[pdf["id"] % 2 == 0]
        return None if out.empty else out


class Poison(Stage):
    ignore_failures = True
    batch_size = 10  # only the batch containing the poison row drops

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        if (pdf["id"] == 13).any():
            raise RuntimeError("poison row")
        return pdf


class FlakyThenOk(Stage):
    num_run_attempts = 3

    def setup(self):
        self.attempts = 0

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        self.attempts += 1
        if self.attempts % 2 == 1:
            raise RuntimeError("transient")
        return pdf


class CaptionStage(Stage):
    """Multimodal fixture parity (reference examples/simple_vlm_inference
    .py:55-61): binary payload in, deterministic caption out; the
    'model' is loaded once in setup()."""

    def setup(self):
        self.model = lambda b: f"caption-{len(b)}-{b[:1].hex()}"

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"url": pdf["url"], "caption": [self.model(b) for b in pdf["image"]]}
        )


def _ids(spark, n):
    return spark.range(n).select(F.col("id"))


def test_map_stage_exact_multiset(spark):
    out = apply_stage(_ids(spark, 100), Doubler, "id long").collect()
    assert sorted(r.id for r in out) == [2 * i for i in range(100)]


def test_batching_invariant(spark):
    df = _ids(spark, 100).coalesce(1)
    out = apply_stage(df, BatchSizeRecorder, "id long, bs int").collect()
    sizes = sorted({r.bs for r in out})
    # one partition of 100 rows at batch_size=7 -> 14 full + remainder 2
    assert sizes == [2, 7]
    assert len(out) == 100


def test_dynamic_fanout_fanin(spark):
    """10 inputs x10 x10 -> 1000 outputs (reference
    test_dynamic_splitting.py:45-110), then a filter stage drops odds."""
    spec = PipelineSpec(
        stages=[
            StageSpec(FanOut10, "id long", name="fan1"),
            StageSpec(FanOut10, "id long", name="fan2"),
            StageSpec(DropOdd, "id long", name="drop"),
        ]
    )
    out = run_pipeline_on_rows(spark, [(i,) for i in range(10)], "id long", spec).collect()
    assert len(out) == 5 * 100  # ids 0,2,4,6,8 each x100
    assert {r.id for r in out} == {0, 2, 4, 6, 8}


def test_empty_return_ok(spark):
    """Reference test_empty_return.py: stages may drop everything."""
    out = apply_stage(_ids(spark, 50).filter("id % 2 = 1"), DropOdd, "id long").collect()
    assert out == []


class FanOut2000(Stage):
    """1 row in -> 2000 rows out (reference test_batch_size_hang.py:
    FirstFanOutStage fans 1 -> 2000)."""

    batch_size = 1

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": range(2000)})


class WantsFullBatch2000(Stage):
    """batch_size larger than any upstream batch; must still drain the
    final partial batch instead of waiting forever (reference
    test_batch_size_hang.py: BatchStage with stage_batch_size=2000)."""

    batch_size = 2000

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        out["bs"] = len(pdf)
        return out


def test_batch_size_larger_than_stream_no_hang(spark):
    """Reference test_batch_size_hang.py:109 — a downstream stage whose
    batch_size exceeds what upstream ever produces must complete with
    every row, not hang on an eternally-unfilled batch buffer."""
    spec = PipelineSpec(
        stages=[
            StageSpec(FanOut2000, "id long", name="fanout"),
            StageSpec(WantsFullBatch2000, "id long, bs long", name="batcher"),
        ]
    )
    out = run_pipeline_on_rows(spark, [(0,)], "id long", spec).collect()
    assert len(out) == 2000
    assert sorted(r.id for r in out) == list(range(2000))
    # the single input partition yields one 2000-row rebatch; a smaller
    # tail batch is fine on multi-partition inputs, zero rows is not
    assert all(r.bs >= 1 for r in out)


def test_empty_return_mid_pipeline(spark):
    """Reference test_empty_return.py:68 — an all-dropping stage in the
    MIDDLE of a pipeline must produce a clean empty result downstream
    (not error on empty Arrow batches)."""

    spec = PipelineSpec(
        stages=[
            StageSpec(FanOut10, "id long", name="fan"),
            StageSpec(DropAll, "id long", name="dropall"),
            StageSpec(Doubler, "id long", name="double"),
        ]
    )
    out = run_pipeline_on_rows(spark, [(1,), (3,)], "id long", spec).collect()
    assert out == []


class DropAll(Stage):
    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame | None:
        return None


def test_ignore_failures_drops_batch(spark):
    df = _ids(spark, 40).coalesce(1)
    out = apply_stage(df, Poison, "id long").collect()
    got = sorted(r.id for r in out)
    assert 13 not in got
    # poison batch dropped wholesale (reference FailureInfo semantics);
    # everything else survives
    assert len(got) >= 30


def test_retry_policy_succeeds_on_second_attempt(spark):
    df = _ids(spark, 30).coalesce(1)
    out = apply_stage(df, FlakyThenOk, "id long").collect()
    assert sorted(r.id for r in out) == list(range(30))


def test_setup_called_once_per_process(spark):
    marker_dir = tempfile.mkdtemp(prefix="cxs_setup_test_")

    class SetupCounter(Stage):
        def setup(self):
            # one marker file per executor process
            with open(os.path.join(marker_dir, f"p{os.getpid()}"), "a") as f:
                f.write("x")

        def process_data(self, pdf):
            return pdf

    out = apply_stage(_ids(spark, 200).repartition(8), SetupCounter, "id long").collect()
    assert len(out) == 200
    # every marker file has exactly one byte: setup ran once per process
    # even though 8 partitions were processed (reference setup_on_node /
    # setup exactly-once, specs.py:247-255)
    for fn in os.listdir(marker_dir):
        assert os.path.getsize(os.path.join(marker_dir, fn)) == 1


def test_multimodal_caption_pipeline(spark):
    rows = [(f"s3://b/{i}", bytes([i]) * (i + 1)) for i in range(20)]
    df = spark.createDataFrame(rows, "url string, image binary")
    out = apply_stage(df, CaptionStage, "url string, caption string").collect()
    assert len(out) == 20
    by_url = {r.url: r.caption for r in out}
    assert by_url["s3://b/3"] == "caption-4-03"


def test_pipeline_validation():
    with pytest.raises(ValueError):
        PipelineSpec(stages=[]).validate()
    with pytest.raises(ValueError):
        PipelineSpec(
            stages=[StageSpec(Doubler, "id long", name="a"), StageSpec(Doubler, "id long", name="a")]
        ).validate()
    with pytest.raises(TypeError):
        PipelineSpec(stages=[StageSpec(lambda: object(), "id long")]).validate()


def test_resources_to_confs():
    r = Resources(cpus=2, gpus=0.5)
    confs = r.to_spark_confs()
    assert confs["spark.task.cpus"] == "2"
    assert confs["spark.task.resource.gpu.amount"] == "0.5"


def test_stage_resource_profile_shape(spark):
    from cosmos_xenna_spark.operators.stage import Resources, stage_resource_profile

    rp = stage_resource_profile(Resources(cpus=2, gpus=0.5))
    req = {k: v.amount for k, v in rp.taskResources.items()}
    assert req["cpus"] == 2.0
    assert req["gpu"] == 0.5


def test_gpu_stage_runs_without_profile_on_local(spark):
    """On local[*] the profile is skipped (Spark rejects task-level
    profiles there) but the stage itself must still run."""
    import pandas as pd

    from cosmos_xenna_spark.operators.stage import Resources, Stage, apply_stage

    class GpuStage(Stage):
        resources = Resources(cpus=2, gpus=1.0)

        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf

    out = apply_stage(spark.range(10), GpuStage, "id long")
    assert out.count() == 10


def test_fused_pipeline_single_python_boundary(spark):
    """Adjacent same-shape stages fuse into ONE mapInPandas (one Arrow
    round trip); different shapes keep separate boundaries."""
    import pandas as pd

    from cosmos_xenna_spark.operators.pipeline import PipelineSpec, StageSpec, run_pipeline
    from cosmos_xenna_spark.operators.stage import Resources, Stage

    class AddOne(Stage):
        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.assign(x=pdf["x"] + 1)

    class Double(Stage):
        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.assign(x=pdf["x"] * 2)

    class GpuShape(Stage):
        resources = Resources(cpus=1, gpus=1.0)

        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.assign(x=pdf["x"] - 3)

    src = spark.range(100).selectExpr("id AS x")
    spec = PipelineSpec(
        stages=[
            StageSpec(AddOne, "x long", name="a"),
            StageSpec(Double, "x long", name="b"),
            StageSpec(GpuShape, "x long", name="c"),
        ]
    )
    fused = run_pipeline(src, spec)
    # semantics: ((x+1)*2)-3
    got = sorted(r.x for r in fused.collect())
    assert got == sorted(((x + 1) * 2) - 3 for x in range(100))
    # plan: 2 python boundaries (a+b fused; c separate), not 3
    from cosmos_xenna_spark.plans import plan_nodes

    nodes = plan_nodes(fused)
    assert nodes.count("MapInPandas") == 2, nodes


def test_setup_receives_worker_metadata(spark):
    """Reference setup(worker_metadata) form: the engine passes worker
    id / node / gpu ids when the signature asks for it."""
    import pandas as pd

    from cosmos_xenna_spark.operators.stage import Stage, WorkerMetadata, apply_stage

    class MetaStage(Stage):
        def setup(self, worker_metadata: WorkerMetadata) -> None:
            assert worker_metadata.node
            assert ":" in worker_metadata.worker_id
            self.wid = worker_metadata.worker_id

        def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf.assign(wid=self.wid)

    out = apply_stage(spark.range(8), MetaStage, "id long, wid string")
    rows = out.collect()
    assert len(rows) == 8
    assert all(r.wid for r in rows)


class WorkerKiller(Stage):
    """Reference test_segfaulting_pipeline.py:81-185 parity: a stage
    whose process kills the Python worker outright (segfault stand-in:
    SIGKILL — same observable, the worker vanishes mid-batch)."""

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        import os as _os
        import signal as _signal

        if (pdf["id"] == 3).any():
            _os.kill(_os.getpid(), _signal.SIGKILL)
        return pdf


def test_segfaulting_stage_surfaces_task_failure(spark):
    """A killed worker must surface as a task/job failure (Spark's
    retry ladder owns recovery — reference A12), never a hang or a
    silently-short result. ignore_failures can't catch a dead process:
    it guards Python exceptions; process death is the platform's job.
    """
    df = _ids(spark, 10).coalesce(1)
    with pytest.raises(Exception) as ei:
        apply_stage(df, WorkerKiller, "id long").collect()
    assert "SparkException" in type(ei.value).__name__ or "Py4J" in type(
        ei.value
    ).__name__ or "crashed" in str(ei.value).lower() or "exited" in str(ei.value).lower()


_SEGFAULT_RETRY_SCRIPT = r"""
import os, signal, sys
import pandas as pd
sys.path.insert(0, os.getcwd())
from pyspark.sql import SparkSession
from cosmos_xenna_spark.operators.stage import Stage, apply_stage

MARKER = sys.argv[1]

class KillOnce(Stage):
    # First attempt: the worker dies mid-batch (segfault stand-in).
    # The retried task (fresh worker) finds the marker and completes —
    # the actor-death-recovery story (reference
    # ray_utils/test_actor_pool_death_recovery.py) mapped onto Spark's
    # task re-execution.
    def process_data(self, pdf):
        if not os.path.exists(MARKER):
            with open(MARKER, "w") as f:
                f.write("died once")
            os.kill(os.getpid(), signal.SIGKILL)
        return pdf

spark = (
    SparkSession.builder.master("local[2, 4]")  # 4 task attempts
    .appName("segfault-retry")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
out = apply_stage(
    spark.range(20).coalesce(1), KillOnce, "id long"
).collect()
assert sorted(r.id for r in out) == list(range(20)), out
print("RECOVERED", len(out))
spark.stop()
"""


def test_segfaulting_stage_recovers_via_task_retry(tmp_path):
    """With task retries enabled (local[2,4]), a one-time worker death
    mid-batch recovers transparently and loses no rows."""
    import subprocess

    script = tmp_path / "segfault_retry.py"
    script.write_text(_SEGFAULT_RETRY_SCRIPT)
    marker = tmp_path / "died.marker"
    p = subprocess.run(
        [sys.executable, str(script), str(marker)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "RECOVERED 20" in p.stdout
    assert marker.exists()  # the first attempt really did die


_NODE_SETUP_SCRIPT = """
import sys

from cosmos_xenna_spark.operators.stage import Stage, apply_stage
from cosmos_xenna_spark.session import get_spark

log = sys.argv[1]


class OnNode(Stage):
    def setup_on_node(self):
        with open(log, "a") as f:
            f.write("x")

    def process_data(self, pdf):
        return pdf


spark = get_spark(master="local[2]", shuffle_partitions=2)
df = apply_stage(spark.range(40).repartition(4), OnNode, "id long")
print("ROWS", df.count(), len(df.collect()))
spark.stop()
"""


def test_node_setup_leaves_no_files_in_tmpdir(tmp_path):
    """setup_on_node runs once per host across two actions on the same
    frame, and its election files go when the driver exits."""
    import subprocess

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    log = tmp_path / "setup_on_node.log"
    p = subprocess.run(
        [sys.executable, "-c", _NODE_SETUP_SCRIPT, str(log)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "ROWS 40 40" in p.stdout
    assert log.read_text() == "x"
    assert not [n for n in os.listdir(tmp) if n.startswith("cxs_node_setup_")]

"""Pipeline builder: a declared chain of Stages over DataFrames.

Reference parity: ``PipelineSpec`` is a linear ``Sequence[StageSpec]``
plus input data and a mode (``cosmos_xenna/pipelines/private/
specs.py:521-539``; modes ``:49-67``). Here:

- BATCH mode -> one chained DataFrame expression; Spark pipelines
  narrow stages and spills shuffles, so the reference's "intermediate
  data fully materialized in object store" OOM caveat
  (reference README.md:50) disappears.
- STREAMING mode -> the same fused stage chain (``run_pipeline``)
  applied to a streaming DataFrame (see ``cosmos_xenna_spark.streaming``),
  so a micro-batch crosses the JVM/Python boundary once per group of
  same-shape stages, as a batch does; Spark already executes all stages
  concurrently with backpressure, which is what the reference's
  streaming executor + autoscaler machinery (``streaming.py:871-944``)
  exists to do.
- The reference's executor internals — actor pools, work stealing,
  backpressure accounting, autoscaling (``actor_pool.py``,
  ``streaming.py:286-654``) — are deliberately NOT ported: the Spark
  scheduler + AQE + dynamic allocation subsume them (SURVEY.md §4.1).

Each StageSpec declares its output schema; validation happens at
compose time (fail fast on the driver), mirroring the reference's spec
normalization/validation step (``pipelines.py:394-500``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from cosmos_xenna_spark.operators.stage import (
    Stage,
    _profile_for,
    make_map_in_pandas_fn,
)


@dataclass
class StageSpec:
    """One pipeline stage: a Stage factory + declared output schema.

    ``stage_factory`` must be a zero-arg callable returning a fresh
    Stage (it is pickled to executors; construct models in ``setup``,
    not ``__init__``, so heavyweight state never ships from the driver).
    """

    stage_factory: Callable[[], Stage]
    output_schema: str
    name: str | None = None

    def validate(self) -> None:
        stage = self.stage_factory()
        if not isinstance(stage, Stage):
            raise TypeError(f"stage_factory must build a Stage, got {type(stage)}")
        if not self.output_schema:
            raise ValueError("output_schema is required (the port is schema-first)")


@dataclass
class PipelineSpec:
    """Linear stage chain (the reference has no DAG — ``specs.py:529``
    'stages executed in order, one after another')."""

    stages: list[StageSpec]

    def validate(self) -> None:
        if not self.stages:
            raise ValueError("pipeline needs at least one stage")
        names = [s.name for s in self.stages if s.name]
        if len(names) != len(set(names)):
            raise ValueError("stage names must be unique")  # reference pipelines.py:469
        for s in self.stages:
            s.validate()


def run_pipeline(input_df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Compose the stage chain over a DataFrame (lazy — the caller picks
    the action/sink, matching ``return_last_stage_outputs`` semantics:
    write it, collect it, or feed it onward).

    ADJACENT stages with identical resource shapes merge into one
    ``mapInPandas`` call: the stage UDF bodies are iterator->iterator
    functions, so they compose Python-side, and every fused boundary
    saves a full Arrow JVM<->Python round trip (serialize + IPC +
    deserialize per batch — the dominant cost of a chained Python
    pipeline). Stages with different resources stay separate so each
    keeps its own ResourceProfile. Batch and streaming DataFrames take
    the same path.
    """
    spec.validate()

    groups: list[list[StageSpec]] = []
    for s in spec.stages:
        shape = s.stage_factory().resources
        if groups and groups[-1][0].stage_factory().resources == shape:
            groups[-1].append(s)
        else:
            groups.append([s])

    df = input_df
    for group in groups:
        fns = [make_map_in_pandas_fn(s.stage_factory) for s in group]

        def fused(batches, _fns=fns):
            stream = batches
            for fn in _fns:
                stream = fn(stream)
            yield from stream

        profile = _profile_for(df, group[0].stage_factory())
        df = df.mapInPandas(
            fused, schema=group[-1].output_schema, profile=profile
        )
    return df


def run_pipeline_on_rows(
    spark: SparkSession, rows, input_schema: str, spec: PipelineSpec
) -> DataFrame:
    """Reference entry-point parity: ``PipelineSpec.input_data`` is an
    in-memory sequence seeded into stage 0 (``specs.py:533``)."""
    return run_pipeline(spark.createDataFrame(rows, schema=input_schema), spec)

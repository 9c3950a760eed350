"""Monitoring (A23) and artifact-distribution (A21) parity tests."""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle

from cosmos_xenna_spark.artifacts import artifact_path, distribute_file
from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.monitoring import attach_rate_monitor, query_metrics, summarize

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def test_query_metrics_counts_rows(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").count()
    ms = query_metrics(li)
    roll = summarize(ms)
    # the scan produced the input rows; the agg produced one per flag
    assert roll["output_rows"] > 0
    nodes = [m.node for m in ms]
    assert any("Scan" in n for n in nodes)
    assert any("HashAggregate" in n for n in nodes)


def test_pipeline_snapshot_report(spark, sf_dir):
    """Reference monitoring-table parity (README.md:153-216): the
    formatted snapshot shows cluster resources and per-operator rows/
    shuffle state for an executed query."""
    from pyspark.sql import functions as F

    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.monitoring import (
        format_pipeline_snapshot,
        query_metrics,
    )

    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    metrics = query_metrics(df)
    report = format_pipeline_snapshot(spark, metrics)
    assert "Cluster Resources:" in report
    assert "Operator state:" in report
    assert "Scan parquet" in report
    assert "Exchange" in report
    # the scan row count appears formatted with separators
    assert any("rows out" in line for line in report.splitlines())


def test_streaming_rate_listener(spark, sf_dir, tmp_path):
    import os
    import shutil

    from cosmos_xenna_spark.streaming import events_file_stream, to_memory_sink

    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(events_dir, "e.parquet"))

    listener = attach_rate_monitor(spark)
    try:
        stream = events_file_stream(spark, events_dir)
        q = to_memory_sink(
            stream.groupBy("event_type").count(), "t_rates", "complete"
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        spark.streams.resetTerminated()
        # listener callbacks are delivered on a background thread
        import time

        deadline = time.time() + 15
        while time.time() < deadline and not listener.rates:
            time.sleep(0.2)
        assert any(r.num_input_rows > 0 for r in listener.rates)
    finally:
        spark.streams.removeListener(listener)


def test_artifact_distribution_reaches_executors(spark, tmp_path):
    art = tmp_path / "weights.txt"
    art.write_text("W=42")
    name = distribute_file(spark, str(art))

    def fn(batches):
        with open(artifact_path(name)) as f:
            content = f.read()
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "w": [content] * len(pdf)})

    df = spark.range(8).repartition(4).mapInPandas(fn, schema="id long, w string")
    got = {r.w for r in df.collect()}
    assert got == {"W=42"}


def test_verified_ledger_is_fresh():
    """VERIFIED.json cannot drift from the registry + CORRECTNESS
    artifacts (VERDICT r7 #2): rebuilding the ledger in-process must
    reproduce the committed file exactly."""
    import importlib.util
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "emit_verified", os.path.join(here, "scripts", "emit_verified.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rebuilt = mod.build()
    with open(os.path.join(here, "VERIFIED.json")) as f:
        committed = json.load(f)
    assert committed["total"] == rebuilt["total"]
    assert committed["oracle_able"] == rebuilt["oracle_able"]
    assert committed["verified"] == rebuilt["verified"]
    assert committed["queries"] == rebuilt["queries"]


def test_plan_audit_artifact_is_fresh():
    """PLANS.json must cover the registry exactly (VERDICT r11 #4: the
    5 late-r11 queries landed with no committed plan-audit rows — the
    live lints covered them but the auditable artifact lagged). A
    registry change without a plan_audit.py re-run in the same commit
    fails here."""
    import json
    import os

    from cosmos_xenna_spark.queries import load_registry

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "PLANS.json")) as f:
        plans = json.load(f)["plans"]
    reg = set(load_registry())
    missing = reg - set(plans)
    extra = set(plans) - reg
    assert not missing and not extra, (
        f"PLANS.json stale: missing={sorted(missing)} extra={sorted(extra)}"
        " — run `python scripts/plan_audit.py` in the same commit"
    )


def test_metrics_audit_artifact_is_fresh():
    """METRICS.json must cover the bench headline set exactly — same
    freshness contract as PLANS.json, for the runtime shuffle/spill
    ledger."""
    import json
    import os

    import bench

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "METRICS.json")) as f:
        metrics = json.load(f)["metrics"]
    head = set(bench.HEADLINE)
    missing = head - set(metrics)
    extra = set(metrics) - head
    assert not missing and not extra, (
        f"METRICS.json stale: missing={sorted(missing)} extra={sorted(extra)}"
        " — run `python scripts/metrics_audit.py` in the same commit"
    )


def test_bench_detail_names_sentinel_calibration_host():
    """The sentinel gate's ratios come from one host; the bench detail
    records it next to the running host so a run on another core count
    or architecture can be read against it."""
    import platform

    import bench

    hosts = bench._sentinel_hosts()
    assert hosts["calibrated_on"]["cpus"] == max(c for c, _ in bench._SENTINEL_CPU_RATIO_POINTS)
    assert hosts["this_host"]["arch"] == platform.machine()
    assert hosts["this_host"]["cpus"] == bench._bench_cpus()

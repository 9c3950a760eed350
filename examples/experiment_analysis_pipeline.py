#!/usr/bin/env python
"""Experiment analysis end-to-end over the event stream: the readout
stack an experimentation platform runs on every experiment —

1. unit grain: one row per user (md5-bit variant, first-event-purchase
   conversion, pre/post activity);
2. health first: SRM tripwire (is the split believable?) BEFORE any
   metric is read;
3. the metric: two-proportion z + lift; per-segment heterogeneous
   effects;
4. variance tooling: CUPED reduction accounting (how much smaller
   could the experiment have been), delta-method CI for the
   ratio-of-sums metric;
5. quasi-experimental cross-check: difference-in-differences;
6. targeting: Qini/uplift deciles (who should get the treatment).

Every number printed here is oracle-checked in the registry
(q_ab_test_zscore, q_ab_test_by_segment, q_cuped_variance_reduction,
q_ratio_metric_delta, q_did_estimator, q_qini_uplift) — this example
is the composed user journey.

Run:  python examples/experiment_analysis_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.functions import md5_long63
from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.quality import qini_table
from cosmos_xenna_spark.operators.stats import (
    ab_test_two_proportion,
    cuped_moments,
    did_estimator,
    ratio_metric_delta,
)
from cosmos_xenna_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="experiment_analysis")
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))

    units = ev.groupBy("user_id").agg(
        F.when(F.min_by("event_type", "event_id") == "purchase", 1)
        .otherwise(0)
        .alias("converted"),
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("pre_cnt"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0))
        .cast("bigint")
        .alias("post_cnt"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    units = checkpoint(
        units.withColumn(
            "variant", md5_long63(F.col("user_id").cast("string"), prefix="ab|") % 2
        )
    )

    ab = ab_test_two_proportion(units).collect()[0]
    print(
        f"SRM: split {ab.n_a}/{ab.n_b}, srm_broken={ab.srm_broken}"
        f" (read the metric only if 0)"
    )
    print(
        f"A/B: lift {ab.lift_ppm} ppm, z={ab.z:.3f}, significant={ab.significant}"
    )

    cuped = cuped_moments(units, "pre_cnt", "post_cnt").collect()[0]
    print(
        f"CUPED: theta_micro={cuped.theta_micro},"
        f" variance reduced by {cuped.var_reduction_ppm} ppm"
    )

    ratio = ratio_metric_delta(units, "n_purchases", "n_events").collect()[0]
    print(
        f"ratio metric (purchases/event): {ratio.ratio:.4f}"
        f" CI [{ratio.ci_lo:.4f}, {ratio.ci_hi:.4f}]"
    )

    did = did_estimator(units, "variant", "pre_cnt", "post_cnt").collect()[0]
    print(f"DiD: {did.did_micro} micro-events ({did.n_treat}T/{did.n_ctrl}C)")

    n = units.count()
    q = qini_table(
        units.withColumnRenamed("user_id", "unit_id").withColumnRenamed(
            "pre_cnt", "score"
        ),
        n_total=n,
        n_tiles=10,
    )
    rows = q.orderBy("tile").collect()
    print(f"Qini final: {rows[-1].cum_qini_milli} milli-incremental-conversions")
    assert ab.n_a + ab.n_b == n
    print(f"experiment analysis done over {n} units")
    spark.stop()


if __name__ == "__main__":
    main()

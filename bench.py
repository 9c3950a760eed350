#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query executes to a noop sink (full computation, zero driver
materialization — the same discipline the operators keep at 100 TB).
"""

from __future__ import annotations

import json
import math
import os
import platform
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cosmos_xenna_spark.queries import load_registry  # noqa: E402
from cosmos_xenna_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q_join_inner",
    "q_window_topk",
    "q_sessionization",
    "q_tumbling_window",
    "q_stage_pipeline",
    "q_dedup_exact_text",
    "q_minhash_pairs",
    "q_knn_bruteforce",
    "q_text_stats",
    # r2 additions (VERDICT #8): the heaviest previously-unbenched
    # operators, so per-operator regressions are visible round-over-round
    "q_dedup_clusters",
    "q_minhash_signatures",
    "q_subquery_correlated",
    "q_pivot",
    "q_ngram_jaccard",
    # r2 corpus-quality family (heaviest two: corpus-wide line window,
    # per-doc word aggregation)
    "q_line_dedup",
    "q_quality_signals",
    # r4 additions (VERDICT r3 #3): CDC family, never benched
    "q_merge_upsert",
    "q_scd2_history",
    # r5: the shuffled backfill regime (broadcast=False, change set
    # >50% of the snapshot) so the non-broadcast path has a perf row
    "q_merge_upsert_backfill",
    # r4 retrieval/packing family (corpus-scan shapes)
    "q_bm25_topk",
    "q_pack_sequences",
    # r5 additions: end-to-end fuzzy dedup (the full MinHash->LSH->
    # verify->CC->survivor chain), Bloom-pruned decontamination, the
    # one-pass DQ suite, and iterative PageRank
    "q_fuzzy_dedup_keep",
    "q_bloom_decontaminate",
    "q_dq_expectations",
    "q_pagerank",
    "q_interpolate_linear",
    "q_incremental_agg",
    "q_srp_lsh",
    # r5 batch 2: curation / event-sequence / robust-stats families —
    # the heaviest shapes (two-stage capped window, corpus word scan,
    # per-user sequence window, LSH + containment verify)
    "q_domain_cap",
    "q_heavy_hitters",
    "q_transition_matrix",
    "q_dedup_time_window",
    "q_weighted_median",
    "q_minhash_containment",
    # r5 batch 3: the LSH+Levenshtein verify chain and the
    # Misra-Gries sketch (the bench's only Python-sketch path)
    "q_edit_distance_pairs",
    "q_heavy_hitters_sketch",
    # r6 additions: SimHash banding + bit_count verify (the second
    # full candidate-generation chain) and the corpus vocab scan
    "q_simhash_pairs",
    "q_vocab_coverage",
    # r6 batch 2: the cross-corpus LSH probe (heaviest new shape) and
    # the full-outer snapshot diff
    "q_incremental_dedup",
    "q_table_diff",
    # r6 batch 3: character-level repeated-substring dedup and the
    # cluster survivorship merge
    "q_substring_dedup",
    "q_golden_record",
    # r6 batch 4: the EXACT prefix-filter similarity join (the dedup
    # family's only guaranteed-recall member), the bigram-LM reference
    # join, and the perceptual-hash image dedup (decode -> hash ->
    # band join over 5k images)
    "q_setsim_prefix_join",
    "q_lm_novelty",
    "q_image_phash_pairs",
    # r6 batch 5: basket-local pair mining over the lineitem fact table
    "q_market_basket",
    # r7 additions: the 2-D grid-cell spatial self-join, the two
    # iterative graph kernels (edge-peeling truss, HITS power steps),
    # SNM window blocking + levenshtein verify, and the entity-local
    # audience-overlap pair mining
    "q_spatial_neighbors",
    "q_ktruss",
    "q_hits",
    "q_snm_pairs",
    "q_audience_overlap",
    # r7 batch 2: the distributed-global-rank quantile matcher and the
    # union-spine point-in-time dimension join over the orders fact
    "q_quantile_normalize",
    "q_pit_join",
    # r8 additions: per-position window hashing + chunk assembly (the
    # corpus-heaviest new shape), the capped wedge join over the dedup
    # graph, and the double-closure SCC kernel
    "q_cdc_chunks",
    "q_link_prediction_ra",
    "q_scc",
    # r8 batch 2: winnowing fingerprints + shared-pair join (the other
    # per-position corpus scan) and the end-to-end ER pipeline
    # (blocking -> scoring -> closure in one plan)
    "q_winnow_pairs",
    "q_er_clusters",
    # r9 additions: the neighbor-wedge self-join (the round's heaviest
    # new shape), the multi-probe BFS, the three-pass global-rank RFM
    # tiling, and the bidirectional as-of union sweep
    "q_clustering_coeff",
    "q_eccentricity_probes",
    "q_rfm_scores",
    "q_nearest_event_join",
    # r10 additions: the two double-explode corpus scans (DSIR model
    # estimation + scoring, Kneser-Ney count table + windows) and the
    # broadcast-model linear-classifier inference pass
    "q_dsir_weights",
    "q_kneser_ney_bigram",
    "q_quality_linear_score",
    # r10 batch 2: the second hub-capped wedge join over the dedup
    # graph (Jaccard index + two endpoint-degree joins), and the
    # reference-LM shuffle join + doc agg (the perplexity-filter shape)
    "q_link_prediction_jaccard",
    "q_doc_surprisal",
    # r10 batch 3: the grid-cell interval self-join (IoU clip dedup —
    # the round's pair-generating shape), the 64-dim explode + window
    # centroid-distance screen, and the deletion-neighborhood variant
    # join (vocab-bounded but corpus-scanned)
    "q_interval_iou_dedup",
    "q_centroid_outliers",
    "q_symspell_suggest",
    # r10 batch 4: the binary-decode corpus pass (TIFF IFD walk through
    # Arrow batches) and the sketch-signature pair spine
    "q_tiff_exif_meta",
    "q_kmv_set_ops",
]


# Historical idle sentinel floor (seconds) AT THE 32-CORE CALIBRATION
# POINT: r9's committed idle run measured 0.641, r9/r10 idle controls
# 0.63-0.69, and contended rounds read 0.80-0.90+. A run whose
# sentinel exceeds the floor by >15% is contended and its per-query
# numbers are noise (VERDICT r11 #2: the r10/r11 artifacts were both
# taken under contention and needed forensic normalization to read) —
# refuse to publish, exit nonzero.
IDLE_SENTINEL_FLOOR = 0.64
SENTINEL_GATE = 1.15
# The sentinel workload legitimately slows at lower core counts, and a
# fixed 32-core floor made the driver's local[8] scaling probe refuse
# on an IDLE machine (BENCH_r12_c8: sentinel 0.82 > gate 0.736 —
# VERDICT r12 item 1). Same-machine idle ratios vs local[32], measured
# r13 with this file's own _sentinel_sample (min of 3 at each count):
# 16c measured FASTER than 32c (shuffle-coordination overhead exceeds
# the parallelism gain for the 200M-row sentinel), so ratios clamp at
# 1.0 — the gate is never tighter than the 32-core gate. Between
# points the ratio interpolates linearly in 1/cpus; below 4 cores it
# extrapolates on the last segment's slope.
_SENTINEL_CPU_RATIO_POINTS = [(32, 1.0), (16, 1.0), (8, 1.30), (4, 1.95)]
# The host those points (and IDLE_SENTINEL_FLOOR) were measured on. Its
# CPU architecture was not recorded; the ratios may not carry over to a
# different architecture, so the detail artifact records it next to the
# running host.
_SENTINEL_CALIBRATION_HOST = {
    "cpus": 32,
    "arch": None,
    "measured": "round 13, idle machine, min of 3 _sentinel_sample per core count",
}


def _sentinel_floor(cpus: int) -> float:
    pts = sorted(
        ((1.0 / c, r) for c, r in _SENTINEL_CPU_RATIO_POINTS)
    )  # ascending 1/cpus == descending core count
    inv = 1.0 / max(1, cpus)
    if inv <= pts[0][0]:
        ratio = pts[0][1]
    else:
        ratio = pts[-1][1]
        for (x0, r0), (x1, r1) in zip(pts, pts[1:]):
            if inv <= x1:
                ratio = r0 + (r1 - r0) * (inv - x0) / (x1 - x0)
                break
        else:  # below the smallest calibrated count: extrapolate
            (x0, r0), (x1, r1) = pts[-2], pts[-1]
            ratio = r1 + (r1 - r0) * (inv - x1) / (x1 - x0)
    return IDLE_SENTINEL_FLOOR * max(1.0, ratio)


def _bench_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else (os.cpu_count() or 8)


def _sentinel_hosts() -> dict[str, dict]:
    """The sentinel gate's calibration host beside this one."""
    return {
        "calibrated_on": _SENTINEL_CALIBRATION_HOST,
        "this_host": {
            "cpus": _bench_cpus(),
            "os_cpus": os.cpu_count(),
            "arch": platform.machine(),
        },
    }


# Upfront gate: attempts and the pause between them, so a transient
# burst (another build finishing) doesn't kill the whole run.
_GATE_ATTEMPTS = 5
_GATE_SLEEP_SEC = 20.0
# The driver captures a fixed ~2000-char tail of stdout; the final
# line must fit completely or the driver records parsed=null (this
# silently broke BENCH_r10/r11). Budget with headroom.
_MAX_LINE_CHARS = 1900


def _sentinel(spark) -> None:
    """Fixed-overhead calibration query (VERDICT r7 #3): a constant
    CPU+shuffle workload independent of sf_dir and of the registry, so
    per-round artifacts can separate ambient machine slowdown (sentinel
    moves with the suite) from a real per-query regression (query moves,
    sentinel doesn't). Shape: 200M-row range -> hash -> 1000-key agg —
    one full shuffle, all 32 cores, zero I/O."""
    from pyspark.sql import functions as F

    (
        spark.range(200_000_000)
        .select((F.xxhash64("id") % 1000).alias("k"))
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _sentinel_sample(spark) -> float:
    """One sentinel MEASUREMENT = min of two consecutive runs after a
    JVM GC kick. The naive single-run sample is not an ambient-only
    probe: taken right after a heavy suite pass it reads 0.9-1.0 s on
    an otherwise idle machine (residual GC debt from 85 queries' worth
    of garbage), which is indistinguishable from real host contention.
    A GC kick clears the self-inflicted part, and min-of-2 drops the
    transient; sustained ambient contention inflates both runs and
    still reads high."""
    try:
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    except Exception:  # noqa: BLE001
        pass
    best = math.inf
    for _ in range(2):
        t0 = time.perf_counter()
        _sentinel(spark)
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="cosmos_xenna_spark_bench")
    reg = load_registry()

    # Warm the JVM/parquet footer caches with one tiny action so the
    # first measured query doesn't pay session startup.
    try:
        reg["q_sort_limit"].builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        # Warm the Python UDF daemon pool (first mapInPandas otherwise
        # pays worker fork + import on every executor thread).
        spark.range(32).repartition(32).mapInPandas(
            lambda it: it, schema="id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 — warm-up is best-effort
        pass

    # Contention gate, upfront (VERDICT r11 #2): sample the sentinel
    # before spending ten minutes measuring; a contended machine gets
    # a few chances to go quiet, then the run refuses. Override with
    # SPARK_GRAFT_BENCH_FORCE=1 (forensic runs on a busy box).
    force = os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1"
    gate = _sentinel_floor(_bench_cpus()) * SENTINEL_GATE
    if not force:
        best = math.inf
        for attempt in range(_GATE_ATTEMPTS):
            try:
                best = min(best, _sentinel_sample(spark))
            except Exception:  # noqa: BLE001
                break
            if best <= gate:
                break
            if attempt < _GATE_ATTEMPTS - 1:
                time.sleep(_GATE_SLEEP_SEC)
        if best > gate:
            _refuse(spark, best, sf, upfront=True)

    # Untimed warm-up pass over the WHOLE headline set (VERDICT r11
    # #2a): the first execution of a query pays one-time costs the
    # steady state never sees again (executor-side Python imports per
    # worker thread, codegen compilation, parquet footer+page caches —
    # q_image_phash_pairs measured 74 s cold vs 2.3 s warm), and with
    # 3 timed passes a cold first sample lands in the median whenever
    # ambient noise inflates either of the other two. One full
    # discarded pass makes every timed sample a warm sample.
    warm_errors: dict[str, str] = {}
    for name in HEADLINE:
        try:
            reg[name].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001
            warm_errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    # Median of 3 runs per query, taken in INTERLEAVED passes (run the
    # whole suite, then again, then again) rather than back-to-back:
    # single-machine noise arrives in multi-second bursts (host CPU
    # steal), and back-to-back sampling lands all three of a query's
    # runs inside one burst — a measured 19.5 s median for a query
    # whose isolated median is 3.4 s. Interleaving spreads each query's
    # samples minutes apart at identical total cost, so a burst
    # inflates one sample of many queries instead of every sample of
    # one.
    # Each query is fault-isolated: one broken query reports an "err"
    # entry instead of killing the whole bench (round-3 lost its entire
    # benchmark to a single AnalysisException at build time).
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    sentinel_samples: list[float] = []
    errors: dict[str, str] = dict(warm_errors)
    for _pass in range(3):
        # One sentinel measurement per pass, interleaved like the
        # queries, so it sees the same ambient-noise distribution
        # (GC-kicked min-of-2: see _sentinel_sample).
        try:
            sentinel_samples.append(_sentinel_sample(spark))
        except Exception:  # noqa: BLE001 — calibration is best-effort
            pass
        for name in HEADLINE:
            if name in errors:
                continue
            try:
                # Time builder + execution together: operators with eager
                # internal actions (iterative connected_components check-
                # points, kmeans fit, approxQuantile cuts) do real work at
                # build time, and timing only the final write would hide it.
                t0 = time.perf_counter()
                df = reg[name].builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
                # Drop the handle NOW: operators scope internal caches
                # (scoped_persist / tie_local_checkpoint) to the result
                # DataFrame's lifetime, so holding it across queries
                # would keep dead blocks pinned in the block manager.
                df = None
            except Exception as exc:  # noqa: BLE001 — report, keep benching
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
    timings: dict[str, float] = {
        name: round(sorted(runs)[len(runs) // 2], 3)
        for name, runs in samples.items()
        if runs and name not in errors
    }

    total = round(sum(timings.values()), 3)
    sentinel_med = (
        round(sorted(sentinel_samples)[len(sentinel_samples) // 2], 3)
        if sentinel_samples
        else None
    )
    # Final gate: contention that arrived mid-run still poisons the
    # medians — refuse to publish them (detail stays on disk for
    # forensics; the refusal line itself is parseable).
    if (
        not os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1"
        and sentinel_med is not None
        and sentinel_med > _sentinel_floor(_bench_cpus()) * SENTINEL_GATE
    ):
        detail = {
            "samples": {k: [round(s, 3) for s in v] for k, v in samples.items()},
            "sentinel_samples": [round(s, 3) for s in sentinel_samples],
            "sentinel_hosts": _sentinel_hosts(),
            "errors": errors,
        }
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
            json.dump(detail, f, indent=1)
        _refuse(spark, sentinel_med, sf, upfront=False)
    payload = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "sentinel": sentinel_med,
    }
    vs_prev = _vs_prev(timings, sentinel_med)
    if vs_prev and "sentinel_drift" in vs_prev:
        # Sentinel-normalized summary IN the headline artifact (VERDICT
        # r8 #2): the driver's stdout capture is a 2000-char tail and
        # the full ratios_normalized map (~850 chars at 61 queries)
        # would risk pushing the line past it (the BENCH_r06 lesson),
        # so the line carries drift + the geomean and worst normalized
        # ratio; the full per-query maps live in BENCH_DETAIL.json.
        norm = vs_prev.get("ratios_normalized") or {}
        payload["sentinel_drift"] = vs_prev["sentinel_drift"]
        if norm:
            logs = [math.log(r) for r in norm.values() if r > 0]
            payload["norm_geomean"] = round(math.exp(sum(logs) / len(logs)), 3)
            worst = max(norm, key=norm.get)
            payload["norm_worst"] = {worst: norm[worst]}
    if errors:
        payload["errors"] = {k: v[:120] for k, v in errors.items()}

    # The driver captures a fixed-size tail of stdout; BENCH_r06 lost
    # its headline to a line that outgrew it (vs_prev map + Spark's
    # console-progress \r spam). Keep the final line compact (no
    # vs_prev, no whitespace) and put the full detail — per-query
    # ratios vs the previous round, raw samples, full errors — in a
    # side artifact instead.
    detail = {
        "samples": {k: [round(s, 3) for s in v] for k, v in samples.items()},
        "sentinel_samples": [round(s, 3) for s in sentinel_samples],
        "sentinel_hosts": _sentinel_hosts(),
        "errors": errors,
        "vs_prev": vs_prev,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump({**payload, **detail}, f, indent=1)

    spark.stop()
    # Final stdout line, after Spark is fully shut down so no executor
    # logging can interleave with or follow it.
    sys.stdout.flush()
    print(json.dumps(_fit_line(payload), separators=(",", ":")), flush=True)


def _fit_line(payload: dict) -> dict:
    """Shrink the stdout payload until its serialization fits the
    driver's ~2000-char tail capture. BENCH_r10/r11 grew past it (85
    headline queries ≈ 2900 chars) and the driver recorded
    parsed=null for two straight rounds. Values round to 2 decimals
    first; if still over budget, the smallest-valued queries fold into
    ``omitted_n``/``omitted_sec`` (the full map is always in
    BENCH_DETAIL.json, which is committed alongside)."""
    out = dict(payload)
    out["queries"] = {k: round(v, 2) for k, v in payload["queries"].items()}
    while len(json.dumps(out, separators=(",", ":"))) > _MAX_LINE_CHARS:
        q = out["queries"]
        if len(q) <= 10:
            break
        drop = min(q, key=q.get)
        out["omitted_n"] = out.get("omitted_n", 0) + 1
        out["omitted_sec"] = round(out.get("omitted_sec", 0.0) + q.pop(drop), 2)
    return out


def _refuse(spark, sentinel: float, sf: float, upfront: bool) -> None:
    """Print a parseable refusal line and exit nonzero (VERDICT r11
    #2b): a contended machine produces numbers that cost more forensic
    work than they carry information. The line deliberately has NO
    "queries" map, so _vs_prev in a later round skips it the same way
    it skips the round-3 crash artifact."""
    payload = {
        "metric": "headline_suite_seconds",
        "value": None,
        "unit": "sec",
        "sf": sf,
        "sentinel": round(sentinel, 3),
        "contended": True,
        "sentinel_gate": round(_sentinel_floor(_bench_cpus()) * SENTINEL_GATE, 3),
        "cpus": _bench_cpus(),
        "stage": "upfront" if upfront else "final",
        "note": "sentinel above idle floor; rerun idle or set SPARK_GRAFT_BENCH_FORCE=1",
    }
    try:
        spark.stop()
    except Exception:  # noqa: BLE001
        pass
    sys.stdout.flush()
    print(json.dumps(payload, separators=(",", ":")), flush=True)
    raise SystemExit(1)


def _vs_prev(
    timings: dict[str, float], sentinel_med: float | None = None
) -> dict[str, object] | None:
    """Per-query ratio vs the newest committed BENCH_r*.json, so a
    regression is visible in the round it happens instead of via a
    by-hand diff of two artifacts (VERDICT r4 #9). When both rounds
    carry a sentinel, also emit sentinel-normalized ratios
    (ratio / (sentinel_now / sentinel_prev)) — the number that stays
    ~1.0 under uniform ambient inflation and moves only on a real
    per-query regression (VERDICT r7 #3)."""
    here = os.path.dirname(os.path.abspath(__file__))
    benches = sorted(
        f for f in os.listdir(here)
        if re.fullmatch(r"BENCH_r\d+\.json", f)
    )
    for prev_name in reversed(benches):
        try:
            with open(os.path.join(here, prev_name)) as f:
                doc = json.load(f)
            # the driver wraps bench.py's line under "parsed"
            prev = (doc.get("queries") or (doc.get("parsed") or {}).get("queries")) or {}
        except (OSError, ValueError, AttributeError):
            continue
        if not prev:
            continue  # e.g. the round-3 crash artifact — skip back
        ratios = {
            q: round(t / prev[q], 2)
            for q, t in timings.items()
            if q in prev and prev[q] > 0
        }
        out: dict[str, object] = {"baseline": prev_name, "ratios": ratios}
        prev_sentinel = doc.get("sentinel") or (doc.get("parsed") or {}).get(
            "sentinel"
        )
        if sentinel_med and prev_sentinel:
            drift = sentinel_med / prev_sentinel
            out["sentinel_drift"] = round(drift, 3)
            out["ratios_normalized"] = {
                q: round(r / drift, 2) for q, r in ratios.items()
            }
        return out
    return None


if __name__ == "__main__":
    main()

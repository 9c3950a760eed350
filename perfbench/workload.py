"""One benchmark workload, run in a fresh process by ``perfbench/run.py``.

The parent passes its clock reading at spawn time, so ``setup_s`` covers
interpreter start, imports, session start and the first Python-worker
action. Everything the engine does is timed from outside, around calls
into its public functions. The result (metrics, counts, environment) is
written as JSON to ``--out``; spans go to ``--trace-out`` on traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

from perfbench.layers import Tracer, median

# Many-job, driver-bound queries (ROADMAP baseline: 30-54 jobs each or
# >= 40% of their span with no job running). Order is permuted per seed.
ITERATIVE = ["q_scc", "q_bloom_decontaminate"]

# Data-proportional, few-job corpus queries (the last three run through
# mapInPandas/Arrow); profiled at sf1.0 by ``run.py --profile``, unscored.
CORPUS = [
    "q1_pricing_summary", "q_text_stats", "q_quality_signals", "q_line_dedup",
    "q_dsir_weights", "q_kneser_ney_bigram", "q_minhash_signatures",
    "q_stage_pipeline", "q_tiff_exif_meta", "q_heavy_hitters_sketch",
]

# Serving: burst size for the closed-loop cold/warm passes, the fixed
# open-loop staircase (requests/s, step length as a share of the run's
# --seconds) and the tail limit a step must meet to count toward
# serving.max_rps. `low` and `high` are a quarter and three quarters of
# the open-loop capacity this staircase measured on 4 cores while the
# host was busy (median serving.max_rps 1800/s), not of the faster
# closed-loop bursts; on a quiet host the capacity is 3000/s or more, and
# the steps above `high` reach past it (perfbench/README.md). `low` has
# more than 1000 requests, so its tail is a p99, and spans a few
# micro-batches, so its median (an end-to-end metric) is not set by
# where one boundary falls.
BURST = 2000
WARM_BURSTS = 12
LADDER = [
    ("low", 450.0, 0.4),
    ("high", 1350.0, 0.25),
    ("r1800", 1800.0, 0.3),
    ("r2400", 2400.0, 0.3),
    ("r3000", 3000.0, 0.3),
    ("r3600", 3600.0, 0.3),
    ("r4200", 4200.0, 0.3),
]
TAIL_LIMIT_MS = 2000.0
DRAIN_TIMEOUT_S = 30.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- batch


def run_batch(spark, names, data_dir, seed, seconds, tracer, run_id, oracle, traced):
    from cosmos_xenna_spark.oracle import value_hash
    from cosmos_xenna_spark.queries import load_registry

    reg = load_registry()
    sc = spark.sparkContext
    order = list(names)
    random.Random(seed).shuffle(order)
    samples: dict[str, list[float]] = {n: [] for n in names}
    errors: list[str] = []
    attempted = 0

    def one_pass(label: str) -> int:
        nonlocal attempted
        pid = tracer.add(label, "pass", time.time(), 0.0, run_id)
        for name in order:
            attempted += 1
            group = f"{label}:{name}"
            t0 = time.time()
            try:
                if traced:
                    sc.setJobGroup(group + ":build", name)
                df = reg[name].builder(spark, data_dir)
                t1 = time.time()
                if traced:
                    sc.setJobGroup(group + ":execute", name)
                _noop(df)
                t2 = time.time()
                del df  # operators scope their caches to the result's lifetime
            except Exception as exc:  # noqa: BLE001 - count, keep measuring
                errors.append(f"{group}: {type(exc).__name__}: {exc}"[:300])
                continue
            qid = tracer.add(name, "query", t0, t2, pid)
            tracer.add(name, "build", t0, t1, qid, group=group + ":build")
            tracer.add(name, "execute", t1, t2, qid, group=group + ":execute")
            if label != "cold":
                samples[name].append(t2 - t0)
        if traced:
            sc.setJobGroup("harness", "harness")
        tracer.spans[pid].end = time.time()
        return pid

    cold = one_pass("cold")
    # at least two warm passes: the first is still warming up, and a run
    # that measured it alone read up to 1.7x slower than one with two
    warm: list[int] = []
    w0 = time.time()
    while len(warm) < 2 or time.time() - w0 < seconds:
        warm.append(one_pass(f"warm{len(warm) + 1}"))

    # correctness, outside the timed passes: every query against the
    # cached DuckDB oracle hash of this dataset
    for name in names if oracle is not None else []:
        attempted += 1
        try:
            df = reg[name].builder(spark, data_dir)
            got = value_hash(list(df.columns), [tuple(r) for r in df.collect()])
            del df
            if got != oracle[name]:
                errors.append(f"check:{name}: hash {got} != oracle {oracle[name]}")
        except Exception as exc:  # noqa: BLE001
            errors.append(f"check:{name}: {type(exc).__name__}: {exc}"[:300])

    durs = [tracer.spans[p].dur for p in warm]
    per_query = [median(v) for v in samples.values() if v]
    e2e = {
        "cold_pass_s": tracer.spans[cold].dur,
        "warm_pass_s": statistics.median(durs),
        # queries of very different lengths: the geometric mean of their
        # warm medians weighs each query's relative change equally
        "latency_ms": 1000 * statistics.geometric_mean(per_query) if per_query else 0.0,
    }
    layers = {f"query.{n}_s": median(v) for n, v in samples.items()}
    layers["warmup.spike_count"] = float(
        sum(1 for v in samples.values() for s in v if s > 2 * median(v))
    )
    layers["_samples"] = {"warm_passes": durs, "queries": samples}
    return e2e, layers, warm, attempted, errors


# ---------------------------------------------------------------- serving


def run_serving(spark, seed, seconds, tracer, run_id):
    from cosmos_xenna_spark.monitoring import attach_rate_monitor
    from cosmos_xenna_spark.streaming import run_stages_streaming, serve
    from cosmos_xenna_spark.streaming.serving_source import (
        QueueServingDataSource,
        ServingQueueServer,
    )
    from perfbench.serving import (
        PIPELINE,
        Ledger,
        expected_reply,
        max_rps,
        poisson_offsets,
        request_text,
    )

    rng = random.Random(seed)
    ledger = Ledger()
    texts: dict[int, str] = {}
    current = {"pass": run_id}

    def sink(batch_df, batch_id: int) -> None:
        b0 = time.time()
        rows = batch_df.collect()
        now = time.perf_counter()
        for r in rows:
            ledger.record_reply(r.id, now, r.n_tokens, r.digest)
        qid = tracer.add(f"batch {batch_id}", "query", b0, time.time(), current["pass"],
                         rows=len(rows))
        tracer.add(f"batch {batch_id}", "execute", b0, time.time(), qid)

    def new_ids(n: int) -> list[int]:
        start = len(texts)
        for rid in range(start, start + n):
            texts[rid] = request_text(rng)
        return list(range(start, start + n))

    def wait_done(ids) -> None:
        """Until every id is answered or the drain timeout passes; fails
        fast when the stream has stopped."""
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        next_probe = 0.0
        while time.perf_counter() < deadline and not all(i in ledger.done for i in ids):
            if time.perf_counter() > next_probe:
                if not handle.isActive:
                    raise RuntimeError(f"serving stream stopped: {handle.exception()}")
                next_probe = time.perf_counter() + 0.25
            time.sleep(0.005)

    def burst(q, label: str, ids, started=None) -> tuple[int, float]:
        t0_wall, t0 = started or (time.time(), time.perf_counter())
        pid = tracer.add(label, "pass", t0_wall, 0.0, run_id)
        current["pass"] = pid
        now = time.perf_counter()
        for rid in ids:
            ledger.due[rid] = ledger.sent[rid] = now
        q.put([(rid, texts[rid]) for rid in ids])  # one push: one micro-batch
        wait_done(ids)
        tracer.spans[pid].end = time.time()
        return pid, time.perf_counter() - t0

    server = ServingQueueServer()
    monitor = attach_rate_monitor(spark, keep_last=100_000)
    handle = None
    try:
        q = server.queue("requests")
        spark.dataSource.register(QueueServingDataSource)
        stream = (
            spark.readStream.format("cxs_serving")
            .schema("id long, text string")
            .options(**server.options("requests"))
            .load()
        )
        out = run_stages_streaming(stream, PIPELINE)
        cold_ids = new_ids(BURST)
        started = (time.time(), time.perf_counter())  # the cold burst includes stream start
        handle = serve(out, sink, "perfbench_serving")
        cold, cold_s = burst(q, "cold", cold_ids, started)
        warm = [burst(q, f"warm{k + 1}", new_ids(BURST)) for k in range(WARM_BURSTS)]
        # a staircase: each step's arrivals start where the last one's
        # ended, without waiting for its replies, so a step that built a
        # backlog hands it on to the next
        step_ids = {}
        t0 = time.perf_counter()
        for name, rate, share in LADDER:
            ids = new_ids(int(rate * share * seconds))
            offsets = poisson_offsets(rate, len(ids), rng)
            pid = tracer.add(name, "pass", time.time(), 0.0, run_id)
            current["pass"] = pid
            for rid, off in zip(ids, offsets):
                due = t0 + off
                ledger.due[rid] = due
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                q.put((rid, texts[rid]))
                ledger.sent[rid] = time.perf_counter()
            t0 += offsets[-1]
            tracer.spans[pid].end = time.time()
            step_ids[name] = (pid, rate, ids)
        wait_done([i for _p, _r, ids in step_ids.values() for i in ids])
        steps = {name: (pid, rate, ledger.step_stats(ids))
                 for name, (pid, rate, ids) in step_ids.items()}
        progress = list(handle.recentProgress)
    finally:
        if handle is not None:
            handle.stop()
            handle.awaitTermination(30)
        spark.streams.removeListener(monitor)
        server.shutdown()

    # correctness: every request answered exactly once, with the right reply
    errors = []
    missing = [rid for rid in texts if rid not in ledger.done]
    wrong = [rid for rid, rep in ledger.replies.items() if rep != expected_reply(texts[rid])]
    if missing:
        errors.append(f"{len(missing)} requests never answered")
    if wrong:
        errors.append(f"{len(wrong)} wrong replies")
    if ledger.duplicates:
        errors.append(f"{ledger.duplicates} duplicate replies")
    failed = len(missing) + len(wrong) + ledger.duplicates

    warm_s = [w[1] for w in warm]
    e2e = {
        "cold_pass_s": cold_s,
        "warm_pass_s": statistics.median(warm_s),
        "latency_ms": steps["low"][2]["p50_ms"],
    }
    layers = {}
    for name in ("low", "high"):
        st = steps[name][2]
        layers[f"serving.{name}.p50_ms"] = st["p50_ms"]
        layers[f"serving.{name}.p99_ms"] = st["tail_ms"]
    layers["serving.max_rps"] = max_rps([(r, st) for _p, r, st in steps.values()],
                                        TAIL_LIMIT_MS)
    layers["serving.gen_lag_ms_max"] = max(st["gen_lag_ms_max"] for _p, _r, st in steps.values())
    layers["serving.backlog_slope"] = steps["high"][2]["backlog_slope"]
    layers["_steps"] = {name: st for name, (_p, _r, st) in steps.items()}
    layers["_samples"] = {"warm_bursts": warm_s}

    active = [p for p in progress if p.numInputRows > 0]
    dur = lambda key: median(p.durationMs.get(key, 0) for p in active)  # noqa: E731
    layers.update({
        "stream.batches": float(sum(1 for r in monitor.rates if r.num_input_rows > 0)),
        "stream.rows_per_batch_p50": median(r.num_input_rows for r in monitor.rates
                                            if r.num_input_rows > 0),
        "stream.trigger_ms_p50": dur("triggerExecution"),
        "stream.planning_ms_p50": dur("queryPlanning"),
        "stream.add_batch_ms_p50": dur("addBatch"),
        "stream.offset_ms_p50": dur("latestOffset"),
        "stream.commit_ms_p50": median(
            p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
            for p in active
        ),
    })
    attempted = len(texts)
    # the operating point whose layers are reported: the `high` step
    return e2e, layers, [steps["high"][0]], attempted, errors, failed


# ---------------------------------------------------------------- main


def _sentinel_s(spark) -> float:
    """Ambient-load probe: bench.py's sentinel shape (range -> xxhash64
    -> 1000-key aggregate, zero I/O) at 1/10 of its rows, min of 2."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        _noop(
            spark.range(20_000_000)
            .select((F.xxhash64("id") % 1000).alias("k"))
            .groupBy("k")
            .count()
        )
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--oracle", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    ap.add_argument("--queries", help="comma list overriding the workload's queries")
    ap.add_argument("--no-check", action="store_true", help="skip the oracle check pass")
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_SPAWN_T"])

    import pyspark

    from cosmos_xenna_spark.session import get_spark

    cores = os.cpu_count() or 1
    # this process's own streaming checkpoints and event log: a checkpoint
    # left by a killed run would make the next stream replay its batch
    run_dir = os.path.join(args.work_dir, f"run-{os.getpid()}")
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    confs = {
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
        # a fixed, pre-touched heap: how much of the heap G1 grows into
        # and touches depends on ambient CPU load, which swung peak_rss_mb
        # by 10-30% between identical runs. Pre-touched, peak_rss_mb moves
        # only with memory outside the Java heap (metaspace, code cache,
        # Arrow buffers, the Python driver and workers); heap use is the
        # per-layer jvm.heap_peak_mb. Pre-touching adds ~1 s to setup_s.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
        ),
    }
    if args.trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    tracer = Tracer()
    run_id = tracer.add(args.workload, "run", t_spawn, 0.0)
    spark = get_spark(app_name=f"perfbench_{args.workload}", extra_confs=confs)
    t_session = time.time()
    spark.range(2 * cores).repartition(cores).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    t_ready = time.time()

    if args.workload == "serving_open_loop":
        e2e, layers, report_passes, attempted, errors, failed = run_serving(
            spark, args.seed, args.seconds, tracer, run_id
        )
    else:
        oracle = None
        if not args.no_check:
            with open(args.oracle) as f:
                oracle = json.load(f)
        names = args.queries.split(",") if args.queries else ITERATIVE
        e2e, layers, report_passes, attempted, errors = run_batch(
            spark, names, args.data_dir, args.seed, args.seconds, tracer, run_id,
            oracle, bool(args.trace),
        )
        failed = len(errors)
    sentinel = _sentinel_s(spark)
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    env = {
        "cpus": cores,
        "pyspark": pyspark.__version__,
        "jdk": jvm.System.getProperty("java.version"),
        "host.sentinel_s": sentinel,
    }
    heap_peak = sum(
        p.getPeakUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    )
    tracer.spans[run_id].end = time.time()
    spark.stop()

    e2e["setup_s"] = t_ready - t_spawn
    layers.update({
        "session.start_s": t_session - t_spawn,
        "daemon.first_udf_s": t_ready - t_session,
        "warmup.cold_minus_warm_s": e2e["cold_pass_s"] - e2e["warm_pass_s"],
        "host.sentinel_s": sentinel,
        "jvm.heap_peak_mb": heap_peak / (1024 * 1024),
    })
    queries = {}
    if args.trace:
        from perfbench.layers import attach_event_log, driver_split, pass_layers, read_event_log

        log = read_event_log(log_dir)
        attach_event_log(tracer, log)
        per_pass = [pass_layers(tracer, p, log, cores) for p in report_passes]
        layers.update({k: median(pp[k] for pp in per_pass) for k in per_pass[0]})
        # per query of the first reported pass: span = in_jobs + gap
        queries = {
            s.name: driver_split(tracer, [i]) for i, s in enumerate(tracer.spans)
            if s.parent == report_passes[0] and s.kind == "query"
        }
        if args.trace_out:
            tracer.dump(args.trace_out)
    shutil.rmtree(run_dir)
    with open(args.out, "w") as f:
        json.dump({"e2e": e2e, "layers": layers, "queries": queries, "attempted": attempted,
                   "failed": failed, "errors": errors, "env": env}, f)


if __name__ == "__main__":
    sys.exit(main())

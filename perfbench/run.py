#!/usr/bin/env python3
"""Layer-attributed benchmark for cosmos_xenna_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --profile {headline,corpus_scan_sf1} [--data-dir DIR]

Run from the repository root. Inputs are built once into ``.bench_cache``
(synthetic tables plus their DuckDB oracle hashes, checked by digest on
every run); scratch files go to ``.bench_work``. Each run starts the
workload in a fresh process and polls that process tree's memory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
workload untraced and then traced (Spark event log on, one job group per
query phase) and prints the per-layer metrics. Every metric is printed
with its unit on stderr; stdout ends with one JSON line
``{"correct", "attempted", "failed", "metrics"}``.

``--profile`` is unscored and trace-only: one cold and one warm pass of a
larger query set, printed as a per-query layer profile. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

CACHE = os.path.join(ROOT, ".bench_cache")
WORK = os.path.join(ROOT, ".bench_work")
SCALE = 0.1
SF1 = 1.0
RUN_LIMIT_S = 170.0
PROFILE_LIMIT_S = 3600.0

WORKLOADS = ("iterative_sf01", "serving_open_loop")

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "daemon.first_udf_s": "s",
    "driver.build_s": "s",
    "driver.exec_s": "s",
    "driver.gap_s": "s",
    "driver.gap_frac": "ratio",
    "job.count": "count",
    "stage.count": "count",
    "job.busy_s": "s",
    "task.count": "count",
    "task.run_s": "s",
    "task.cpu_s": "s",
    "task.gc_s": "s",
    "task.sched_delay_s": "s",
    "task.deser_s": "s",
    "task.shuffle_write_mb": "MB",
    "task.fetch_wait_s": "s",
    "task.spill_mb": "MB",
    "task.core_util": "ratio",
    "pyworker.mb_to_py": "MB",
    "pyworker.mb_from_py": "MB",
    "pyworker.exec_s": "s",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.offset_ms_p50": "ms",
    "stream.commit_ms_p50": "ms",
    "serving.low.p50_ms": "ms",
    "serving.low.p99_ms": "ms",
    "serving.high.p50_ms": "ms",
    "serving.high.p99_ms": "ms",
    "serving.max_rps": "1/s",
    "serving.gen_lag_ms_max": "ms",
    "serving.backlog_slope": "1/s",
    "warmup.cold_minus_warm_s": "s",
    "warmup.spike_count": "count",
    "query.q_scc_s": "s",
    "query.q_bloom_decontaminate_s": "s",
    "jvm.heap_peak_mb": "MB",
    "host.sentinel_s": "s",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- inputs


def prepare_inputs(queries: list[str], scale: float = SCALE) -> tuple[str, str]:
    """Build (once) and verify the dataset and its oracle hashes; returns
    (data_dir, oracle_json_path). Runs before any timed work. sf1.0 is
    derived from the sf0.1 tables by ``scripts/gen_sf1.py``."""
    from perfbench.datagen import dataset_digest, derive_sf1, write_dataset

    data_dir = os.path.join(CACHE, f"synthetic-sf{scale}")
    digest_path = os.path.join(data_dir, "DIGEST")
    oracle_path = os.path.join(data_dir, "oracle.json")
    ok = os.path.exists(digest_path)
    if ok:
        with open(digest_path) as f:
            ok = f.read().strip() == dataset_digest(data_dir)
    if not ok:
        tmp = data_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        if scale == SF1:
            derive_sf1(prepare_inputs([])[0], tmp, _child_env())
        else:
            write_dataset(tmp, scale)
        with open(os.path.join(tmp, "DIGEST"), "w") as f:
            f.write(dataset_digest(tmp))
        shutil.rmtree(data_dir, ignore_errors=True)
        os.replace(tmp, data_dir)
    oracle = {}
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            oracle = json.load(f)
    missing = [q for q in queries if q not in oracle]
    if missing:
        from cosmos_xenna_spark.oracle import make_duckdb, value_hash
        from cosmos_xenna_spark.queries import load_registry

        reg = load_registry()
        con = make_duckdb(data_dir)
        for q in missing:
            cur = con.execute(reg[q].oracle)
            oracle[q] = value_hash([d[0] for d in cur.description], cur.fetchall())
        con.close()
        with open(oracle_path + ".tmp", "w") as f:
            json.dump(oracle, f, indent=1)
        os.replace(oracle_path + ".tmp", oracle_path)
    return data_dir, oracle_path


# ---------------------------------------------------------------- child


def _tree_rss_mb(root_pid: int) -> float:
    """Summed resident memory of a process tree. A child the JVM is
    spawning (a Python worker before its exec) still runs the JVM's binary
    in the JVM's address space and would count the whole heap twice: it
    is skipped."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))

    def exe(pid: int) -> str | None:
        try:
            return os.readlink(f"/proc/{pid}/exe")
        except OSError:
            return None

    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        children = kids.get(pid, [])
        if children and (exe(pid) or "").endswith("/java"):
            children = [k for k in children if exe(k) != exe(pid)]
        stack.extend(children)
    return total / (1024 * 1024)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all cpus since boot, from /proc/stat.
    Steal is time a virtual machine's cpus were runnable but the host ran
    something else: the ambient load a shared host puts on a run."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[2]) == pgid:
                        return True
            except (OSError, IndexError, ValueError):
                continue
    return False


def _child_env() -> dict:
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "4g"),
    })
    return env


def run_child(args, trace: int, data_dir: str, oracle: str, deadline: float,
              extra: tuple[str, ...] = ()) -> dict:
    """Run one workload in a fresh process group; returns its result plus
    the peak resident memory of the whole process tree."""
    tag = f"{args.workload}-seed{args.seed}-trace{trace}"
    out = os.path.join(WORK, f"{tag}.json")
    if os.path.exists(out):
        os.unlink(out)
    cmd = [
        sys.executable, "-m", "perfbench.workload",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data-dir", data_dir, "--oracle", oracle, "--work-dir", WORK,
        "--out", out, "--trace-out", os.path.join(WORK, f"{tag}-spans.json"),
        *extra,
    ]
    env = _child_env()
    steal0, total0 = _cpu_jiffies()
    env["PERFBENCH_SPAWN_T"] = repr(time.time())
    with open(os.path.join(WORK, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        peak = 0.0
        try:
            while proc.poll() is None:
                peak = max(peak, _tree_rss_mb(proc.pid))
                if time.time() > deadline:
                    raise TimeoutError(f"{tag} did not finish in time")
                time.sleep(0.2)
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            end = time.time() + 10
            while _group_alive(proc.pid) and time.time() < end:
                time.sleep(0.1)
    if proc.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"{tag} exited {proc.returncode}; see {log.name}")
    with open(out) as f:
        result = json.load(f)
    steal1, total1 = _cpu_jiffies()
    result["e2e"]["peak_rss_mb"] = peak
    steal = (steal1 - steal0) / max(1, total1 - total0)
    result["layers"]["host.steal_frac"] = result["env"]["host.steal_frac"] = steal
    return result


# ---------------------------------------------------------------- report


def _environment(child_env: dict) -> dict:
    import duckdb

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {**child_env, "git_commit": commit, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def emit(result: dict, metrics: dict[str, float], units: dict[str, str]) -> None:
    for name, unit in units.items():
        print(f"  {name:32s} {metrics[name]:14.4f} {unit}", file=sys.stderr)
    attempted, failed = int(result["attempted"]), int(result["failed"])
    print(f"  {'failed_frac':32s} {failed / max(1, attempted):14.4f} ratio "
          f"({failed} of {attempted})", file=sys.stderr)
    for err in result["errors"][:20]:
        print(f"  error: {err}", file=sys.stderr)
    print(json.dumps({"env": _environment(result["env"])}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }), flush=True)


def profile(args) -> None:
    """Trace-only, unscored: one cold and one warm pass of a query set,
    then the per-query driver split of the warm pass and the pass's layer
    totals (perfbench/README.md)."""
    from perfbench.workload import CORPUS

    if args.profile == "headline":
        from bench import HEADLINE as names

        scale = SCALE
    else:
        names, scale = CORPUS, SF1
    data_dir = args.data_dir or prepare_inputs([], scale)[0]
    args.workload, args.seconds = args.profile, 0
    result = run_child(args, 1, data_dir, os.devnull, time.time() + PROFILE_LIMIT_S,
                       ("--queries", ",".join(names), "--no-check"))
    print(json.dumps({"env": _environment(result["env"]), "data_dir": data_dir,
                      "e2e": result["e2e"], "layers": result["layers"],
                      "errors": result["errors"], "queries": result["queries"]},
                     indent=1))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("headline", "corpus_scan_sf1"))
    ap.add_argument("--data-dir")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "cosmos_xenna_spark", "__init__.py")):
        _fail(f"no cosmos_xenna_spark package under {ROOT}; run from a full checkout")
    # on SIGTERM, unwind through run_child's cleanup so the workload's
    # process group (Python, JVM, Python workers) is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    if args.profile:
        return profile(args)
    if not args.workload:
        _fail("--workload is required")
    from perfbench.workload import ITERATIVE

    batch = args.workload != "serving_open_loop"

    data_dir, oracle = prepare_inputs(ITERATIVE if batch else [])
    # the run's time limit starts after the (cached) input build
    deadline = time.time() + RUN_LIMIT_S
    if not args.trace:
        untraced = run_child(args, 0, data_dir, oracle, deadline)
        return emit(untraced, untraced["e2e"], END_TO_END)
    # the untraced reference for trace.overhead_frac skips the output check
    untraced = run_child(args, 0, data_dir, oracle, deadline, ("--no-check",))
    traced = run_child(args, 1, data_dir, oracle, deadline)
    layers = {name: 0.0 for name in PER_LAYER}
    layers.update(traced["layers"])
    layers["trace.overhead_frac"] = (
        traced["e2e"]["warm_pass_s"] / untraced["e2e"]["warm_pass_s"] - 1
    )
    traced["attempted"] += untraced["attempted"]
    traced["failed"] += untraced["failed"]
    traced["errors"] = untraced["errors"] + traced["errors"]
    emit(traced, layers, PER_LAYER)


if __name__ == "__main__":
    main()

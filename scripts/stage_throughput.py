"""Stage-API throughput micro-benchmark vs the reference's anchors.

The reference publishes exactly one stage-speed number — 0.367
tasks/actor/s on the download stage with batch_size=10 (≈3.7 rows/s
per worker, I/O-bound) and a 96 Hz driver main loop (reference
``README.md:159,205-210``).  Those are orchestrator numbers, not query
numbers, so this script measures the matching thing on the port: rows
per second through a chain of A3 stages (setup-once, batched
``process_data``, destroy-on-drain) on local[N].

Three workloads, same 3-stage chain shape as the reference's example
pipeline (download -> caption -> write):
  - passthrough: no per-row work — measures pure Stage-API overhead
    (Arrow transfer + rebatch + process-cache lookup);
  - hash_cpu: sha256 of each row's text — a compute-proxy for decode;
  - tokenize: split + count — a realistic light text stage.

Writes THROUGHPUT.json at the repo root.  The comparison caveat is
recorded in the artifact itself: the reference's 0.367 tasks/actor/s
stage was NETWORK-bound (video download); the honest comparable is
per-worker overhead ceiling, where the Arrow-batched path measures
orders of magnitude above the reference's observed floor — i.e. the
port's Stage machinery is never the bottleneck at the reference's own
workload shape.

Usage:  python scripts/stage_throughput.py [n_rows]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark import cloudpickle  # noqa: E402

from cosmos_xenna_spark.operators.pipeline import PipelineSpec, StageSpec, run_pipeline  # noqa: E402
from cosmos_xenna_spark.operators.stage import Stage  # noqa: E402
from cosmos_xenna_spark.session import get_spark  # noqa: E402

cloudpickle.register_pickle_by_value(sys.modules[__name__])


class Passthrough(Stage):
    batch_size = 256

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf


class HashCpu(Stage):
    batch_size = 256

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["digest"] = [
            hashlib.sha256(t.encode()).hexdigest() for t in pdf["text"]
        ]
        return pdf


class Tokenize(Stage):
    batch_size = 256

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["n_tokens"] = [len(t.split()) for t in pdf["text"]]
        return pdf


class VlmDownload(Stage):
    """examples/vlm_caption_pipeline.py stage 1: CPU shape."""

    batch_size = 64

    def setup(self) -> None:
        self.session = True

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        from cosmos_xenna_spark.operators.multimodal import fake_image

        pdf = pdf.copy()
        pdf["image_bytes"] = [
            fake_image(int(i) % 16 + 4, int(i) % 8 + 4, seed=int(i))
            for i in pdf["doc_id"]
        ]
        return pdf[["doc_id", "image_bytes"]]


class VlmCaption(Stage):
    """examples/vlm_caption_pipeline.py stage 2: GPU shape — the
    heterogeneous boundary that keeps this chain UNFUSED (three
    separate mapInPandas, one per resource shape, each eligible for
    its own ResourceProfile on a cluster)."""

    batch_size = 16

    def setup(self) -> None:
        self.model = lambda w, h: f"a {w}x{h} test image"

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        from cosmos_xenna_spark.operators.multimodal import decode_image_stub

        captions = []
        for payload in pdf["image_bytes"]:
            w, h, _ = decode_image_stub(bytes(payload))
            captions.append(self.model(w, h))
        return pd.DataFrame({"doc_id": pdf["doc_id"], "caption": captions})


class VlmWritePrep(Stage):
    """examples/vlm_caption_pipeline.py stage 3: back to CPU shape."""

    batch_size = 256

    def process_data(self, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["n_words"] = [len(c.split()) for c in pdf["caption"]]
        return pdf


def vlm_hetero_3stage(spark, n_images: int = 50_000) -> dict:
    """A3 chain with HETEROGENEOUS Resources (VERDICT r9 #4b): the
    reference's flagship 3-stage VLM shape (download CPU -> caption
    GPU -> write CPU, README.md:156-176) end-to-end on the stage API.
    The caption stage's distinct resource shape breaks fusion, so this
    measures the un-fusable worst case: three Arrow JVM<->Python round
    trips per batch plus the synth/decode work — the per-stage
    ResourceProfile boundary a real GPU cluster would bind."""
    from cosmos_xenna_spark.operators.stage import Resources

    class _D(VlmDownload):
        resources = Resources(cpus=1.0)

    class _C(VlmCaption):
        resources = Resources(cpus=1.0, gpus=1.0)

    class _W(VlmWritePrep):
        resources = Resources(cpus=1.0)

    df = (
        spark.range(n_images)
        .selectExpr("id AS doc_id")
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    spec = PipelineSpec(
        stages=[
            StageSpec(_D, "doc_id long, image_bytes binary"),
            StageSpec(_C, "doc_id long, caption string"),
            StageSpec(_W, "doc_id long, caption string, n_words long"),
        ]
    )
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        run_pipeline(df, spec).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    sec = sorted(runs)[1]
    return {
        "images_per_sec": round(n_images / sec, 1),
        "sec": round(sec, 3),
        "n_stage_passes": 3,
        "fused_groups": 3,
    }


def run_chain(spark, df, stages, out_schema) -> float:
    spec = PipelineSpec(stages=[StageSpec(s, out_schema) for s in stages])
    t0 = time.perf_counter()
    run_pipeline(df, spec).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def serving_round_trip(spark, n_rows: int = 50_000, waves: int = 5, chunk: int = 0, max_rows_per_batch: int = 0) -> dict:  # noqa: D417
    """A2/A9 quantitative anchor: rows/s through the full serving loop —
    client queue push -> Python DataSource micro-batches -> a 2-stage A3
    chain -> foreachBatch collector sink.  The reference's matching
    anchor is its 96 Hz driver main loop (README.md:159): the loop tick
    bounds how fast its serving queue can hand batches to actors; here
    the micro-batch cycle plays that role, so the honest comparable is
    round-trips (micro-batches) per second alongside raw rows/s."""
    from cosmos_xenna_spark.streaming import run_stages_streaming, serve
    from cosmos_xenna_spark.streaming.serving_source import (
        QueueServingDataSource,
        ServingQueueServer,
    )

    server = ServingQueueServer()
    got: list[int] = []
    try:
        q = server.queue("bench")
        spark.dataSource.register(QueueServingDataSource)
        opts = server.options("bench")
        if max_rows_per_batch:
            opts["maxrowsperbatch"] = str(max_rows_per_batch)
        stream = (
            spark.readStream.format("cxs_serving")
            .schema("id long, text string")
            .options(**opts)
            .load()
        )
        chain = run_stages_streaming(
            stream,
            PipelineSpec(
                stages=[
                    StageSpec(Tokenize, "id long, text string, n_tokens long"),
                    StageSpec(HashCpu, "id long, text string, n_tokens long, digest string"),
                ]
            ),
        )
        handle = serve(chain, lambda df, _bid: got.append(df.count()))
        try:
            # warm the stream (python workers + first micro-batch planning)
            q.put((0, "warm up row"))
            handle.processAllAvailable()
            got.clear()
            per_wave = n_rows // waves
            t0 = time.perf_counter()
            row_id = 1
            n_batches = 0
            for _ in range(waves):
                if chunk:
                    buf = []
                    for _i in range(per_wave):
                        buf.append((row_id, f"serving request body text {row_id}"))
                        row_id += 1
                        if len(buf) >= chunk:
                            q.put(buf)
                            buf = []
                    if buf:
                        q.put(buf)
                else:
                    for _i in range(per_wave):
                        q.put((row_id, f"serving request body text {row_id}"))
                        row_id += 1
                handle.processAllAvailable()
                n_batches += 1
            sec = time.perf_counter() - t0
        finally:
            handle.stop()
            handle.awaitTermination(30)
            spark.streams.resetTerminated()
    finally:
        server.shutdown()
    n_out = sum(got)
    assert n_out == per_wave * waves, (n_out, per_wave * waves)
    return {
        "rows_per_sec": round(n_out / sec, 1),
        "sec": round(sec, 3),
        "round_trips_per_sec": round(n_batches / sec, 2),
        "n_rows": n_out,
        "n_stage_passes": 2,
    }


def serving_sustained(
    spark,
    duration_s: float = 8.0,
    chunk: int = 500,
    target_rows_per_sec: int = 8_000,
) -> dict:
    """SUSTAINED-load serving (VERDICT r10 #6a): a producer thread
    pushes chunked requests at a PACED arrival rate (default 8k rows/s
    — below the chunked-push capacity ceiling ``serving_throughput_
    regime`` measures, so the system is in steady state, not
    accumulating backlog) while the query runs FREE — no
    processAllAvailable round-trips between waves. Each request
    carries its client enqueue timestamp; the sink records, per
    micro-batch, the wait of the OLDEST row in the batch (enqueue ->
    sink receipt) — the honest end-to-end latency envelope under load.
    Reports achieved rows/s plus p50/p95 oldest-row latency. (An
    UNPACED producer saturates the queue and the latencies just read
    back the backlog depth — capacity is the throughput_regime row's
    job.)"""
    import threading

    from cosmos_xenna_spark.streaming import run_stages_streaming, serve
    from cosmos_xenna_spark.streaming.serving_source import (
        QueueServingDataSource,
        ServingQueueServer,
    )

    server = ServingQueueServer()
    stats: list[tuple[int, int, int]] = []  # (t_sink_ns, n_rows, min_t_ns)
    try:
        q = server.queue("sustained")
        spark.dataSource.register(QueueServingDataSource)
        opts = server.options("sustained")
        opts["maxrowsperbatch"] = "20000"
        stream = (
            spark.readStream.format("cxs_serving")
            .schema("id long, t_ns long, text string")
            .options(**opts)
            .load()
        )
        chain = run_stages_streaming(
            stream,
            PipelineSpec(
                stages=[
                    StageSpec(
                        Tokenize, "id long, t_ns long, text string, n_tokens long"
                    )
                ]
            ),
        )

        def sink(df, _bid) -> None:
            row = df.selectExpr(
                "count(id) AS c", "min(t_ns) AS m"
            ).collect()[0]
            if row.c:
                stats.append((time.time_ns(), int(row.c), int(row.m)))

        handle = serve(chain, sink, query_name="cxs_serving_sustained")
        try:
            q.put([(0, time.time_ns(), "warm up row")])
            handle.processAllAvailable()
            stats.clear()
            stop = threading.Event()
            pushed = [0]

            interval = chunk / float(target_rows_per_sec)

            def producer() -> None:
                rid = 1
                t_start = time.perf_counter()
                n_chunks = 0
                while not stop.is_set():
                    now = time.time_ns()
                    q.put(
                        [
                            (rid + i, now, f"serving request body text {rid + i}")
                            for i in range(chunk)
                        ]
                    )
                    rid += chunk
                    n_chunks += 1
                    pushed[0] = rid - 1
                    # paced arrivals: sleep to the next scheduled push
                    # (absolute schedule, so sink hiccups don't skew it)
                    wait = t_start + n_chunks * interval - time.perf_counter()
                    if wait > 0:
                        time.sleep(wait)

            th = threading.Thread(target=producer, daemon=True)
            t0 = time.perf_counter()
            th.start()
            time.sleep(duration_s)
            stop.set()
            th.join()
            handle.processAllAvailable()  # drain the tail before timing stops
            sec = time.perf_counter() - t0
        finally:
            handle.stop()
            handle.awaitTermination(30)
            spark.streams.resetTerminated()
    finally:
        server.shutdown()
    n_out = sum(n for _, n, _ in stats)
    assert n_out == pushed[0], (n_out, pushed[0])
    lats = sorted((t_done - t_min) / 1e9 for t_done, _, t_min in stats)
    return {
        "rows_per_sec": round(n_out / sec, 1),
        "sec": round(sec, 3),
        "n_rows": n_out,
        "n_batches": len(stats),
        "latency_oldest_p50_s": round(lats[len(lats) // 2], 3),
        "latency_oldest_p95_s": round(lats[min(len(lats) - 1, int(len(lats) * 0.95))], 3),
        "n_stage_passes": 1,
    }


def continuous_live_stream(spark, n_rows: int = 20_000, chunk: int = 500) -> dict:
    """A9 continuous stage ON A LIVE STREAM (VERDICT r10 #6b): the
    serving queue feeds an async ``ContinuousStage`` (decoupled
    request/response — the coroutine emits results whenever ready, no
    1:1 batch correspondence) through ``run_stages_streaming``'s
    micro-batches; mirrors the reference's continuous_wrapped_stage
    composition (continuous_stage.py:68-79 pumped by stage_worker)."""
    from cosmos_xenna_spark.operators.continuous import (
        ContinuousStage,
        apply_continuous_stage,
    )
    from cosmos_xenna_spark.streaming import serve
    from cosmos_xenna_spark.streaming.serving_source import (
        QueueServingDataSource,
        ServingQueueServer,
    )

    class AsyncTokenize(ContinuousStage):
        async def run_continuous(self, input_q, output_q) -> None:
            while True:
                batch = await input_q.get()
                if batch is None:
                    await output_q.put(None)
                    return
                batch = batch.copy()
                batch["n_tokens"] = [len(t.split()) for t in batch["text"]]
                await output_q.put(batch)

    server = ServingQueueServer()
    got: list[int] = []
    try:
        q = server.queue("cont")
        spark.dataSource.register(QueueServingDataSource)
        opts = server.options("cont")
        opts["maxrowsperbatch"] = "20000"
        stream = (
            spark.readStream.format("cxs_serving")
            .schema("id long, text string")
            .options(**opts)
            .load()
        )
        out = apply_continuous_stage(
            stream, AsyncTokenize, "id long, text string, n_tokens long"
        )
        handle = serve(out, lambda df, _bid: got.append(df.count()),
                       query_name="cxs_continuous_live")
        try:
            q.put([(0, "warm up row")])
            handle.processAllAvailable()
            got.clear()
            t0 = time.perf_counter()
            rid = 1
            while rid <= n_rows:
                q.put(
                    [
                        (rid + i, f"continuous request body {rid + i}")
                        for i in range(min(chunk, n_rows - rid + 1))
                    ]
                )
                rid += chunk
            handle.processAllAvailable()
            sec = time.perf_counter() - t0
        finally:
            handle.stop()
            handle.awaitTermination(30)
            spark.streams.resetTerminated()
    finally:
        server.shutdown()
    n_out = sum(got)
    assert n_out == n_rows, (n_out, n_rows)
    return {
        "rows_per_sec": round(n_out / sec, 1),
        "sec": round(sec, 3),
        "n_rows": n_out,
        "n_stage_passes": 1,
    }


def image_decode_hash(spark, n_images: int = 50_000) -> dict:
    """Multimodal decode-path throughput: images/s through the full
    Arrow chain synth -> decode -> 8x8 perceptual hash (the
    q_image_phash_pairs front end).  The decode kernel is the
    pluggable-seam dispatch, so this is the number a deployment's real
    codec slots into."""
    from pyspark.sql import functions as F

    from cosmos_xenna_spark.operators.multimodal import (
        attach_fake_image_corpus,
        image_ahash,
    )

    ids = (
        spark.range(n_images)
        .select(F.col("id").alias("doc_id"))
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    imgs = attach_fake_image_corpus(ids).localCheckpoint(eager=True)
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        image_ahash(imgs).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    sec = sorted(runs)[1]
    return {
        "images_per_sec": round(n_images / sec, 1),
        "sec": round(sec, 3),
        "n_stage_passes": 1,
    }


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark(app_name="stage_throughput")
    df = (
        spark.range(n_rows)
        .selectExpr(
            "id",
            "concat('document text body word content sample row ', id) AS text",
        )
        .repartition(32)
        .localCheckpoint(eager=True)  # exclude generation from timing
    )
    # warm the python worker pool
    run_chain(spark, df.limit(1024), [Passthrough], "id long, text string")

    results = {}
    for name, stages, schema in [
        ("passthrough_3stage", [Passthrough, Passthrough, Passthrough], "id long, text string"),
        ("hash_cpu", [HashCpu], "id long, text string, digest string"),
        ("tokenize", [Tokenize], "id long, text string, n_tokens long"),
    ]:
        runs = []
        for _ in range(3):
            runs.append(run_chain(spark, df, stages, schema))
        sec = sorted(runs)[1]
        results[name] = {
            "rows_per_sec": round(n_rows / sec, 1),
            "sec": round(sec, 3),
            "n_stage_passes": len(stages),
        }

    results["serving_round_trip"] = serving_round_trip(spark)
    # throughput regime: one wave + CHUNKED pushes (1k rows per queue
    # item = one push-side manager call per 1k rows instead of per
    # row; the reader pays one call per micro-batch either way) — the
    # serving path's rows/s ceiling. The 5-wave per-row variant above
    # is the latency-regime number (true A2 parity: one push per
    # request, cycle time dominated by micro-batch planning).
    results["serving_throughput_regime"] = serving_round_trip(
        spark, waves=1, chunk=1000, max_rows_per_batch=50_000
    )
    # sustained regime: producer thread + free-running query — the
    # steady-state serving rate with an honest oldest-row latency
    # envelope (the two waves above are the round-trip-dominated
    # latency-regime and the chunked-push ceiling numbers).
    results["serving_sustained"] = serving_sustained(spark)
    results["continuous_live_stream"] = continuous_live_stream(spark)
    results["image_decode_hash"] = image_decode_hash(spark)
    results["vlm_hetero_3stage"] = vlm_hetero_3stage(spark)

    payload = {
        "n_rows": n_rows,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "results": results,
        "reference_anchor": {
            "stage_speed_tasks_per_actor_s": 0.367,
            "batch_size": 10,
            "note": "reference README.md:205-210 — network-bound video "
            "download stage on a 384-CPU Ray cluster; quoted as the only "
            "published per-stage rate, not an apples-to-apples CPU number",
        },
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "THROUGHPUT.json"
    )
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload["results"]))
    spark.stop()


if __name__ == "__main__":
    main()

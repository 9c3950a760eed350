"""Pipeline monitoring: reference A23 parity on Spark's metric system.

The reference runs a PipelineMonitor that periodically prints per-stage
actor/task/queue/rate tables (reference ``cosmos_xenna/pipelines/
private/monitoring.py:352-634``, output ``README.md:153-216``). Spark
already collects the equivalents — SQL metrics per physical operator
and StreamingQueryProgress per micro-batch — so this module surfaces
them instead of re-implementing collection:

- ``query_metrics(df)``: execute a DataFrame and return per-operator
  SQL metrics (output rows, shuffle bytes, spill) — the batch analogue
  of the reference's per-stage table.
- ``StageRateListener``: a StreamingQueryListener logging per-batch
  input/processed rates — the streaming analogue (reference rates at
  ``monitoring_types.py:29-187``).

Driver-side only; nothing here touches the data path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener


@dataclass
class OperatorMetrics:
    node: str
    metrics: dict[str, int]


def _walk_nodes(jnode, out: list):
    out.append(jnode)
    cls = jnode.getClass().getSimpleName()
    # AQE query-stage nodes hold their materialized subtree in .plan(),
    # not .children(); reused exchanges likewise wrap a .child()
    if cls.endswith("QueryStageExec"):
        _walk_nodes(jnode.plan(), out)
        return
    children = jnode.children()
    for i in range(children.size()):
        _walk_nodes(children.apply(i), out)


def query_metrics(df: DataFrame) -> list[OperatorMetrics]:
    """Execute ``df`` (noop sink) and return per-operator SQL metrics.

    Rows out, shuffle bytes written/read, sort spill — per physical
    operator, from the same SQLMetric registry the Spark UI shows.
    """
    # Execute THIS DataFrame's physical plan (a noop write would build
    # its own QueryExecution and leave these operators' metrics empty).
    # .execute().count() is a JVM-side RDD action: full computation,
    # nothing materialized to the driver.
    jqe = df._jdf.queryExecution()  # type: ignore[attr-defined]
    jqe.executedPlan().execute().count()
    executed = jqe.executedPlan()
    # AQE wraps the final plan; unwrap to the materialized tree
    if executed.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        executed = executed.executedPlan()
    nodes: list = []
    _walk_nodes(executed, nodes)
    out: list[OperatorMetrics] = []
    for n in nodes:
        jmetrics = n.metrics()
        names = jmetrics.keys().iterator()
        vals: dict[str, int] = {}
        while names.hasNext():
            k = names.next()
            vals[k] = jmetrics.apply(k).value()
        out.append(OperatorMetrics(node=n.nodeName(), metrics=vals))
    return out


def summarize(metrics: list[OperatorMetrics]) -> dict[str, int]:
    """Pipeline-level rollup: total rows produced, bytes shuffled,
    spill — the headline numbers of the reference's monitor table."""
    total = {"output_rows": 0, "shuffle_bytes_written": 0, "spill_bytes": 0}
    for om in metrics:
        for k, v in om.metrics.items():
            if k == "numOutputRows":
                total["output_rows"] += v
            elif k in ("shuffleBytesWritten", "bytesWritten") and "Exchange" in om.node:
                total["shuffle_bytes_written"] += v
            elif "spill" in k.lower() and "bytes" in k.lower():
                total["spill_bytes"] += v
    return total


@dataclass
class BatchRate:
    query: str
    batch_id: int
    num_input_rows: int
    input_rows_per_second: float
    process_rows_per_second: float


class StageRateListener(StreamingQueryListener):
    """Collects per-micro-batch rates (reference per-stage rate table).

    Attach with ``spark.streams.addListener(listener)``; inspect
    ``listener.rates`` (driver memory only, bounded by ``keep_last``).
    """

    def __init__(self, keep_last: int = 1000):
        self.rates: list[BatchRate] = []
        self._keep = keep_last

    def onQueryStarted(self, event) -> None:  # pragma: no cover - trivial
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.rates.append(
            BatchRate(
                query=p.name or p.id,
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                input_rows_per_second=p.inputRowsPerSecond or 0.0,
                process_rows_per_second=p.processedRowsPerSecond or 0.0,
            )
        )
        if len(self.rates) > self._keep:
            del self.rates[: -self._keep]

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - trivial
        pass

    def onQueryIdle(self, event) -> None:  # pragma: no cover - trivial
        pass


def attach_rate_monitor(spark: SparkSession, keep_last: int = 1000) -> StageRateListener:
    listener = StageRateListener(keep_last)
    spark.streams.addListener(listener)
    return listener


# ---------------------------------------------------------------------------
# Formatted snapshot report (reference monitoring.py:352-634 prints
# per-stage tables each tick, sample output README.md:153-216). The
# Spark-native analogue: cluster resources from the status tracker,
# per-operator rows/shuffle/spill from SQL metrics — rendered as the
# same kind of aligned table.
# ---------------------------------------------------------------------------


def _render_table(headers: list[str], rows: list[list[str]]) -> str:
    widths = [len(h) for h in headers]
    for r in rows:
        for i, cell in enumerate(r):
            widths[i] = max(widths[i], len(cell))

    def line(cells, pad=" "):
        return "| " + " | ".join(c.ljust(w, pad) for c, w in zip(cells, widths)) + " |"

    sep = "|-" + "-|-".join("-" * w for w in widths) + "-|"
    return "\n".join([line(headers), sep] + [line(r) for r in rows])


def cluster_resources(spark: SparkSession) -> dict[str, float]:
    """Cluster totals the way the reference's 'Cluster Resources' table
    shows them: executor count, total cores, total storage memory."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()  # type: ignore[attr-defined]
    mem_status = jsc.getExecutorMemoryStatus()
    n_exec = mem_status.size()
    total_mem = 0
    free_mem = 0
    it = mem_status.iterator()
    while it.hasNext():
        kv = it.next()
        total_mem += kv._2()._1()
        free_mem += kv._2()._2()
    return {
        "executors": float(n_exec),
        "cores_total": float(sc.defaultParallelism),
        "storage_memory_gb": round(total_mem / 1e9, 2),
        "storage_memory_free_gb": round(free_mem / 1e9, 2),
    }


_SNAPSHOT_METRIC_KEYS = (
    ("numOutputRows", "rows out"),
    ("shuffleBytesWritten", "shuffle written"),
    ("shuffleTotalBytesRead", "shuffle read"),
    ("spillSize", "spill"),
    ("peakMemory", "peak mem"),
)


def format_pipeline_snapshot(
    spark: SparkSession, metrics: list[OperatorMetrics]
) -> str:
    """Render the reference-style monitoring report for one executed
    query: a cluster-resources table plus a per-operator (per-stage)
    state table. Pure formatting over :func:`query_metrics` output."""
    res = cluster_resources(spark)
    resource_tbl = _render_table(
        ["Resource", "Value"],
        [[k, f"{v:g}"] for k, v in res.items()],
    )
    rows = []
    for i, om in enumerate(metrics):
        cells = [f"{i:02d}", om.node]
        for key, _label in _SNAPSHOT_METRIC_KEYS:
            v = om.metrics.get(key)
            cells.append("-" if v is None else f"{v:,}")
        rows.append(cells)
    stage_tbl = _render_table(
        ["#", "Operator"] + [label for _k, label in _SNAPSHOT_METRIC_KEYS], rows
    )
    total = summarize(metrics)
    head = (
        "Pipeline Snapshot:\n"
        f"  operators: {len(metrics)}  rows produced: {total['output_rows']:,}  "
        f"shuffle written: {total['shuffle_bytes_written']:,} B  "
        f"spill: {total['spill_bytes']:,} B\n"
    )
    return f"{head}\nCluster Resources:\n{resource_tbl}\n\nOperator state:\n{stage_tbl}"

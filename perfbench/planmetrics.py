"""Spark SQL metrics of every action, read from the executed physical plan.

A `PlanRecorder` registers a JVM `QueryExecutionListener` (through the
py4j callback server) so that it sees the `QueryExecution` of every
action, including writes made inside the package.  After an action,
`drain()` walks each captured `executedPlan`, descending through
`AdaptiveSparkPlan` and every `*QueryStage`, and sums the metrics of the
operator classes the benchmark reports:

* `FileSourceScanExec` -> `sources.*`
* `ShuffleExchangeExec` -> salt shuffle (repartition by number on
  (doc_id, offset)), re-stitch shuffle (hash on doc_id alone) or other
* `BroadcastExchangeExec` carrying a `payload` column -> media broadcast
* any operator with `pythonTotalTime` (ArrowEvalPython, MapInPandas, ...)
  -> Arrow transfer into and out of the Python workers

Time metrics are converted to seconds from the unit Spark records them in
(`timing` = ms, `nsTiming` = ns).
"""

from __future__ import annotations

import re
import statistics
from collections import defaultdict

# metric type -> factor to seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}
_ATTR = re.compile(r"([A-Za-z_]\w*)#\d+")

# counters whose value is fixed by the data and plan, so it must repeat
# exactly between two runs of the same action
COUNT_KEYS = (
    "sources.scan_rows",
    "pipeline.arrow_sent_bytes",
    "pipeline.arrow_recv_bytes",
    "pipeline.python_rows",
    "pipeline.salt_shuffle_records",
    "pipeline.restitch_shuffle_records",
    "pipeline.media_broadcast_rows",
)


class _Listener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self) -> None:
        self.captured: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM name)
        self.captured.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM name)
        self.captured.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _metrics(node) -> dict[str, tuple[float, str]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = (float(m.value()), m.metricType())
    return out


def _value(ms: dict, key: str) -> float:
    if key not in ms:
        return 0.0
    v, kind = ms[key]
    return v * _TIME_SCALE.get(kind, 1.0)


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its metrics are counted where the exchange ran
    kids = []
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            kids.append(it.next())
    return kids


def _skew_ratio(stage) -> float:
    """max / median bytes over the non-empty partitions of a finished
    shuffle stage (Spark keeps bytes, not records, per partition)."""
    stats = stage.mapStats()
    if not stats.isDefined():
        return 0.0
    sizes = [int(b) for b in stats.get().bytesByPartitionId() if int(b) > 0]
    if not sizes:
        return 0.0
    return max(sizes) / statistics.median(sizes)


def read_plan(plan) -> dict[str, float]:
    """Sum the reported operator metrics over one executed plan."""
    acc: dict[str, float] = defaultdict(float)
    stack = [(plan, None)]
    while stack:
        node, parent_stage = stack.pop()
        cls = node.getClass().getSimpleName()
        ms = _metrics(node)
        if cls == "FileSourceScanExec" or cls == "BatchScanExec":
            acc["sources.scan_s"] += _value(ms, "scanTime")
            acc["sources.scan_rows"] += _value(ms, "numOutputRows")
        elif cls == "ShuffleExchangeExec":
            names = _ATTR.findall(node.outputPartitioning().toString())
            origin = node.shuffleOrigin().toString()
            if origin == "REPARTITION_BY_NUM" and names[:2] == ["doc_id", "offset"]:
                kind = "salt"
            elif names == ["doc_id"]:
                kind = "restitch"
            else:
                kind = "other"
            nbytes = _value(ms, "shuffleBytesWritten")
            acc["registry.shuffle_bytes"] += nbytes
            if kind != "other":
                acc[f"pipeline.{kind}_shuffle_bytes"] += nbytes
                acc[f"pipeline.{kind}_shuffle_write_s"] += _value(ms, "shuffleWriteTime")
                acc[f"pipeline.{kind}_shuffle_records"] += _value(ms, "shuffleRecordsWritten")
                if kind == "salt" and parent_stage is not None:
                    acc["pipeline.salt_skew_ratio"] = max(
                        acc["pipeline.salt_skew_ratio"], _skew_ratio(parent_stage)
                    )
        elif cls == "BroadcastExchangeExec":
            out_names = _ATTR.findall(node.output().toString())
            if "payload" in out_names:
                acc["pipeline.media_broadcast_bytes"] += _value(ms, "dataSize")
                acc["pipeline.media_broadcast_rows"] += _value(ms, "numOutputRows")
                acc["pipeline.media_broadcast_build_s"] += sum(
                    _value(ms, k) for k in ("collectTime", "buildTime", "broadcastTime")
                )
        if "pythonTotalTime" in ms:
            acc["pipeline.arrow_sent_bytes"] += _value(ms, "pythonDataSent")
            acc["pipeline.arrow_recv_bytes"] += _value(ms, "pythonDataReceived")
            acc["pipeline.python_rows"] += _value(ms, "pythonNumRowsReceived")
            acc["pipeline.python_boot_s"] += _value(ms, "pythonBootTime")
            acc["pipeline.python_total_s"] += _value(ms, "pythonTotalTime")
        stage = node if cls == "ShuffleQueryStageExec" else None
        for child in _children(node):
            stack.append((child, stage))
    return dict(acc)


class PlanRecorder:
    """Captures the QueryExecution of every action on one SparkSession."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Listener()
        spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self) -> dict[str, float]:
        """Metrics summed over every action since the last drain."""
        # listener events are delivered asynchronously on the listener bus
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        total: dict[str, float] = defaultdict(float)
        captured, self._listener.captured = self._listener.captured, []
        for qe in captured:
            for k, v in read_plan(qe.executedPlan()).items():
                if k == "pipeline.salt_skew_ratio":
                    total[k] = max(total[k], v)
                else:
                    total[k] += v
        return dict(total)

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)


def counts_repeat(samples: list[dict[str, float]]) -> bool:
    """True when every count in COUNT_KEYS is identical across samples."""
    return all(len({s.get(k, 0.0) for s in samples}) == 1 for k in COUNT_KEYS)

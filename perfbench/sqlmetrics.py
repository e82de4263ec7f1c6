"""Reduce one query's Spark SQL executions to a fixed per-layer vector.

Spark keeps per-operator SQL metrics in the session's status store even
with the UI disabled. After a public call returns, the benchmark reads the
executions that call produced (by execution id), walks each plan graph and
maps operator metrics to layer metrics by node name. See README.md,
"Reading the layer metrics", for the metrics that mislead.
"""

from __future__ import annotations

import re
import time

# layer metric names this module fills, in output order
LAYER_KEYS = (
    "sources.scan_rows", "sources.scan_files", "sources.scan_ms",
    "spark.agg.codegen_ms", "spark.agg.partial_rows_in",
    "spark.agg.partial_rows_out", "spark.agg.partial_build_ms",
    "spark.agg.spill_bytes",
    "shuffle.records", "shuffle.bytes", "shuffle.write_ms",
    "shuffle.fetch_wait_ms", "shuffle.task_skew",
    "python.init_ms", "python.start_ms",
    *(f"python.{op}.{m}" for op in ("map_in_pandas", "flat_map_groups",
                                    "arrow_eval")
      for m in ("rows_in", "bytes_in", "bytes_out", "exec_ms")),
    "write.files", "write.bytes", "write.ms",
)

PYTHON_OPS = {
    "MapInPandas": "map_in_pandas",
    "MapInArrow": "map_in_pandas",
    "FlatMapGroupsInPandas": "flat_map_groups",
    "FlatMapGroupsInArrow": "flat_map_groups",
    "ArrowEvalPython": "arrow_eval",
    "BatchEvalPython": "arrow_eval",
}

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,  # -> ms
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,  # -> bytes
}
_NUM = r"(-?[\d,]*\.?\d+(?:E-?\d+)?)\s*([A-Za-z]+)?"


def _num(text: str, unit: str | None) -> float:
    v = float(text.replace(",", ""))
    return v * _UNITS[unit] if unit else v


def parse(value: str | None) -> tuple[float, float | None, float | None, float | None]:
    """One status-store metric string -> (total, min, med, max) in ms,
    bytes or plain counts. Single-task and driver metrics carry no
    breakdown; multi-task ones read
    ``total (min, med, max (stageId: taskId))\\n945 ms (220 ms, 244 ms,
    250 ms (stage 52.0: task 83))``; averages read
    ``(min, med, max (stageId: taskId)):\\n(1.2, 1.3, 1.4 (stage ...))``
    and report the median as their total."""
    if not value:
        return 0.0, None, None, None
    lines = value.strip().split("\n")
    body = lines[-1]
    body = re.sub(r"\(stage [^)]*\)", "", body)
    nums = [_num(n, u) for n, u in re.findall(_NUM, body)]
    if not nums:
        return 0.0, None, None, None
    if len(lines) == 1:
        return nums[0], None, None, None
    if lines[0].startswith("total") and len(nums) >= 4:
        return nums[0], nums[1], nums[2], nums[3]
    if len(nums) >= 3:  # average metric: (min, med, max)
        return nums[1], nums[0], nums[1], nums[2]
    return nums[0], None, None, None


class StatusStore:
    """Reads executions newer than a watermark from the session's SQL
    status store."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self.watermark = self._count()

    def _count(self) -> int:
        return int(self._store.executionsCount())

    def take_new(self, timeout_s: float = 5.0) -> list:
        """Executions started since the last call, once the listener has
        recorded their completion (the status store is fed
        asynchronously, so metrics can lag the action's return)."""
        n = self._count()
        if n <= self.watermark:
            return []
        execs = self._store.executionsList(self.watermark, n - self.watermark)
        ids = [int(execs.apply(i).executionId()) for i in range(execs.size())]
        self.watermark = n
        deadline = time.perf_counter() + timeout_s
        out = []
        for eid in ids:
            while True:
                opt = self._store.execution(eid)
                data = opt.get() if opt.isDefined() else None
                if data is not None and data.completionTime().isDefined():
                    break
                if time.perf_counter() > deadline:
                    break
                time.sleep(0.01)
            if data is not None:
                out.append((eid, data))
        return out

    def layer_vector(self, executions) -> dict[str, float]:
        vec = dict.fromkeys(LAYER_KEYS, 0.0)
        for eid, data in executions:
            _reduce_execution(self._store, eid, data, vec)
        return vec


def _scala_map(m) -> dict[int, str]:
    out = {}
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        out[int(kv._1())] = str(kv._2())
    return out


def _reduce_execution(store, eid: int, data, vec: dict[str, float]) -> None:
    values = _scala_map(store.executionMetrics(eid))
    graph = store.planGraph(eid)
    jnodes = graph.allNodes()
    nodes, children = {}, {}
    for i in range(jnodes.size()):
        n = jnodes.apply(i)
        ms = n.metrics()
        metrics = {}
        for j in range(ms.size()):
            m = ms.apply(j)
            metrics[str(m.name())] = values.get(int(m.accumulatorId()))
        nodes[int(n.id())] = (str(n.name()), str(n.desc()), metrics)
    jedges = graph.edges()
    for i in range(jedges.size()):
        e = jedges.apply(i)  # fromId is the child, toId the parent
        children.setdefault(int(e.toId()), []).append(int(e.fromId()))

    def rows_below(nid: int) -> float:
        """Rows out of the nearest descendants that count them (an
        Exchange counts the rows its readers fetched)."""
        total_rows = 0.0
        for c in children.get(nid, []):
            name, _, metrics = nodes[c]
            for key in ("number of output rows", "records read"):
                if key in metrics:
                    total_rows += parse(metrics[key])[0]
                    break
            else:
                total_rows += rows_below(c)
        return total_rows

    def total(metrics: dict, name: str) -> float:
        return parse(metrics.get(name))[0]

    wrote = False
    for nid, (name, desc, metrics) in nodes.items():
        if name.startswith("Scan parquet"):
            vec["sources.scan_rows"] += total(metrics, "number of output rows")
            vec["sources.scan_files"] += total(metrics, "number of files read")
            vec["sources.scan_ms"] += total(metrics, "scan time")
        elif name.startswith("WholeStageCodegen"):
            vec["spark.agg.codegen_ms"] += total(metrics, "duration")
        elif name.endswith("Aggregate"):
            vec["spark.agg.spill_bytes"] += total(metrics, "spill size")
            if "partial_" in desc:
                vec["spark.agg.partial_rows_in"] += rows_below(nid)
                vec["spark.agg.partial_rows_out"] += total(
                    metrics, "number of output rows")
                vec["spark.agg.partial_build_ms"] += total(
                    metrics, "time in aggregation build")
        elif name == "Exchange":
            vec["shuffle.records"] += total(metrics, "shuffle records written")
            vec["shuffle.bytes"] += total(metrics, "shuffle bytes written")
            vec["shuffle.write_ms"] += total(metrics, "shuffle write time")
            vec["shuffle.fetch_wait_ms"] += total(metrics, "fetch wait time")
            _, _, med, mx = parse(metrics.get("shuffle bytes written"))
            if med and mx:
                vec["shuffle.task_skew"] = max(vec["shuffle.task_skew"],
                                               mx / med)
        elif name in PYTHON_OPS:
            op = f"python.{PYTHON_OPS[name]}"
            vec[f"{op}.rows_in"] += rows_below(nid)
            for key, value in metrics.items():
                if "sent to Python" in key:
                    vec[f"{op}.bytes_in"] += parse(value)[0]
                elif "returned from Python" in key:
                    vec[f"{op}.bytes_out"] += parse(value)[0]
                elif "run Python" in key:
                    vec[f"{op}.exec_ms"] += parse(value)[0]
                elif "initialize Python" in key:
                    vec["python.init_ms"] += parse(value)[0]
                elif "start Python" in key:
                    vec["python.start_ms"] += parse(value)[0]
        elif "InsertIntoHadoopFsRelation" in name:
            wrote = True
            vec["write.files"] += total(metrics, "number of written files")
            vec["write.bytes"] += total(metrics, "written output")
    if wrote and data.completionTime().isDefined():
        vec["write.ms"] += (data.completionTime().get().getTime()
                            - data.submissionTime())

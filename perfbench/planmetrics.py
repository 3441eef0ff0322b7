"""Executed-plan SQL metrics, harvested from outside the engine.

Every SQL execution of the session (collects, counts, the writes and
histogram jobs the engine runs internally) lands in Spark's SQL status
store with its final adaptive plan graph. This module reads the
executions newer than a watermark, maps each node's metrics to the
benchmark's layer names, and sums them. Values arrive as Spark's
formatted strings ("1,234", "12.3 MiB", "1.2 s", or the
"total (min, med, max …)" form), so sizes and times carry Spark's
display precision.
"""

from __future__ import annotations

import re
from collections import defaultdict

PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow", "AggregateInPandas", "WindowInPandas",
)

# (node predicate, Spark metric name) -> benchmark metric
_PY = lambda n: n.startswith(PYTHON_NODES)  # noqa: E731
_MAP = [
    (_PY, "time to run Python workers", "python.total_ms"),
    (_PY, "time to start Python workers", "python.boot_ms"),
    (_PY, "time to initialize Python workers", "python.init_ms"),
    (_PY, "data sent to Python workers", "python.bytes_sent"),
    (_PY, "data returned from Python workers", "python.bytes_received"),
    (_PY, "number of output rows", "python.rows_received"),
    (lambda n: n.startswith("WholeStageCodegen"), "duration", "jvm.pipeline_ms"),
    (lambda n: n == "Exchange", "shuffle bytes written", "shuffle.bytes_written"),
    (lambda n: n == "Exchange", "shuffle records written", "shuffle.records_written"),
    (lambda n: n == "Exchange", "shuffle write time", "shuffle.write_ms"),
    (lambda n: n == "Exchange", "fetch wait time", "shuffle.fetch_wait_ms"),
    (lambda n: True, "spill size", "spill.bytes"),
    (lambda n: True, "peak memory", "agg.peak_memory_bytes"),
    (lambda n: n.startswith("Scan"), "scan time", "scan.time_ms"),
    (lambda n: n.startswith("Scan"), "size of files read", "scan.bytes"),
]
METRIC_NAMES = sorted({m for _, _, m in _MAP} | {"python.nodes"})

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE = re.compile(r"^([\d,]+(?:\.\d+)?)(?: (\w+))?")


def parse_value(text: str) -> float:
    """Spark's display string → number (bytes, milliseconds or count)."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1)


class PlanHarvester:
    """Reads SQL executions of one session from its status store."""

    def __init__(self, spark):
        self._jss = spark._jsparkSession
        self._sc = spark.sparkContext._jsc.sc()
        self.watermark = self._last_id()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _last_id(self) -> int:
        self._drain()
        execs = self._jss.sharedState().statusStore().executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())),
                   default=-1)

    def harvest(self) -> tuple[dict[str, float], dict[str, dict[str, float]]]:
        """Sum the layer metrics of every execution since the last call.

        Returns (totals, per_node) where per_node maps a plan node's
        description prefix to its own layer metrics."""
        self._drain()
        store = self._jss.sharedState().statusStore()
        execs = store.executionsList()
        totals: dict[str, float] = defaultdict(float)
        per_node: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        newest = self.watermark
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self.watermark:
                continue
            newest = max(newest, eid)
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                label = node_label(name, node.desc())
                if name.startswith(PYTHON_NODES):
                    totals["python.nodes"] += 1
                    per_node[label]["python.nodes"] += 1
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    for pred, spark_name, ours in _MAP:
                        if m.name() == spark_name and pred(name):
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                val = parse_value(v.get())
                                totals[ours] += val
                                per_node[label][ours] += val
        self.watermark = newest
        return dict(totals), {k: dict(v) for k, v in per_node.items()}


_UDF_NAME = re.compile(r"^\w+ \[?(\w+)\(")


def node_label(name: str, desc: str) -> str:
    """Node name plus, for Python nodes, the Python function it runs
    (e.g. "MapInPandas count_rows"), so lineage nodes stay separable."""
    if name.startswith(PYTHON_NODES):
        m = _UDF_NAME.match(desc)
        if m:
            return f"{name} {m.group(1)}"
    return name

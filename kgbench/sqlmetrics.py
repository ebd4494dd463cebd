"""Spark's own per-node SQL metrics for finished actions.

Spark keeps the plan graph and metric values of every SQL execution in
``sharedState().statusStore()`` even with the UI disabled. Values are read
exactly from the live accumulators while the plan is still reachable and
otherwise parsed from the store's formatted strings (three significant
digits for sizes and times). Nothing here runs a Spark job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

ROWS = "number of output rows"
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SHUFFLE_BYTES = "shuffle bytes written"
SPILL = "spill size"
PART_SIZE = "partition data size"

# physical nodes that cross into a Python worker
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)

_UNITS = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
}
_QTY = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


@dataclass
class Node:
    id: int
    name: str
    metrics: dict[str, float] = field(default_factory=dict)
    # (min, med, max) per task, where the store recorded more than one task
    spread: dict[str, tuple[float, float, float]] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)


@dataclass
class Execution:
    id: int
    description: str
    nodes: dict[int, Node]

    def of(self, prefix: str) -> list[Node]:
        return [n for n in self.nodes.values() if n.name.startswith(prefix)]

    def total(self, prefix: str, metric: str) -> float:
        return sum(n.metrics.get(metric, 0.0) for n in self.of(prefix))

    def python_nodes(self) -> list[Node]:
        return [n for n in self.nodes.values() if n.name in PYTHON_NODES]

    def python_s(self) -> float:
        return sum(n.metrics.get(PY_TIME, 0.0) for n in self.python_nodes())

    def root_rows(self) -> int | None:
        """Rows the action's root emitted, from the nearest row counters
        below the write node (a Union sums its inputs). None when the
        plan shape hides the count."""
        parents = self._parents
        # codegen stages are clusters without edges, not plan nodes
        roots = [
            n
            for n in self.nodes.values()
            if not parents.get(n.id) and not n.name.startswith("WholeStageCodegen")
        ]
        if len(roots) != 1:
            return None
        return self._rows(roots[0])

    def _rows(self, node: Node) -> int | None:
        if ROWS in node.metrics:
            return int(node.metrics[ROWS])
        kids = [self.nodes[c] for c in node.children if c in self.nodes]
        if node.name == "Union":
            counts = [self._rows(k) for k in kids]
            return None if None in counts else sum(counts)
        if len(kids) == 1:
            return self._rows(kids[0])
        return None

    @property
    def _parents(self) -> dict[int, list[int]]:
        up: dict[int, list[int]] = {}
        for n in self.nodes.values():
            for c in n.children:
                up.setdefault(c, []).append(n.id)
        return up


def parse_value(text: str, metric_type: str) -> tuple[float, tuple | None]:
    """Parse one formatted store value: ``"1,234"``, ``"5.2 MiB"`` or the
    multi-task form ``"total (min, med, max ...)\\n5.2 MiB (1 KiB, 2 KiB,
    3 KiB (stage 1.0: task 7))"``. Times come back in seconds."""
    lines = text.strip().splitlines()
    body = lines[-1]
    qty = [_to_number(m, metric_type) for m in _QTY.finditer(body)]
    qty = [q for q in qty if q is not None]
    if not qty:
        raise ValueError(f"unparseable metric value {text!r}")
    if len(lines) > 1 and len(qty) >= 4:
        return qty[0], (qty[1], qty[2], qty[3])
    return qty[0], None


def _to_number(m: re.Match, metric_type: str) -> float | None:
    num, unit = m.group(1), m.group(2)
    if unit in (None, ""):
        if metric_type in ("sum", "average"):
            return float(num.replace(",", ""))
        return None if metric_type != "size" else float(num.replace(",", ""))
    if unit not in _UNITS:
        return None  # "stage", "task"
    return float(num.replace(",", "")) * _UNITS[unit]


def _raw_to_number(raw: int, metric_type: str) -> float:
    if metric_type == "timing":
        return raw / 1e3
    if metric_type == "nsTiming":
        return raw / 1e9
    return float(raw)


class MetricsReader:
    """Reads finished executions from one session's status store."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event,
        so the store holds the final metrics of the actions just run."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def last_id(self) -> int:
        self.drain()
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def since(self, after_id: int) -> list[Execution]:
        self.drain()
        execs = self._store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > after_id:
                out.append(self._read(e))
        return out

    def one(self, exec_id: int) -> Execution:
        self.drain()
        return self._read(self._store.execution(exec_id).get())

    def _read(self, ui) -> Execution:
        eid = ui.executionId()
        graph = self._store.planGraph(eid)
        values = self._store.executionMetrics(eid)
        nodes: dict[int, Node] = {}
        all_nodes = graph.allNodes()
        for k in range(all_nodes.size()):
            jn = all_nodes.apply(k)
            node = Node(id=jn.id(), name=jn.name().strip())
            ms = jn.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                name, mtype, acc_id = m.name(), m.metricType(), m.accumulatorId()
                formatted = values.get(acc_id)
                text = formatted.get() if formatted.isDefined() else None
                spread = None
                if text is not None:
                    try:
                        value, spread = parse_value(text, mtype)
                    except ValueError:
                        value = None
                else:
                    value = None
                acc = self._acc.get(acc_id)
                if acc.isDefined():
                    value = _raw_to_number(acc.get().value(), mtype)
                if value is not None:
                    node.metrics[name] = value
                if spread is not None:
                    node.spread[name] = spread
            nodes[node.id] = node
        edges = graph.edges()
        for k in range(edges.size()):
            e = edges.apply(k)
            if e.toId() in nodes:
                nodes[e.toId()].children.append(e.fromId())
        return Execution(id=eid, description=ui.description() or "", nodes=nodes)

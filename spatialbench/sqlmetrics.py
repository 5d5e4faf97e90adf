"""Per-node SQL metrics of finished Spark SQL executions.

Spark keeps every SQL execution's plan graph and its aggregated node
metrics in the session's SQL status store, also when the web UI is
disabled. This module reads them after an action returns, so the
benchmark can attribute a job's time and rows to plan nodes without
touching the program: scan rows, join output rows, the Arrow UDF
node's Python time and bytes, shuffle bytes and the write command's
file counts.

The store holds metrics as display strings ("5,846,773", "142.5 MiB",
"39.1 s", or a "total (min, med, max ...)" header over such a line).
``parse_metric`` turns them back into numbers; sizes and times keep
the three or four significant digits the display gives.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(kind: str, text: str | None) -> float | None:
    """Number behind one metric display string: a plain count, bytes
    for ``size`` metrics, seconds for ``timing`` and ``nsTiming``.
    Returns None for metric kinds that are not additive (averages)."""
    if text is None:
        return 0.0
    total = text.strip().split("\n")[-1].split(" (")[0].strip()
    if kind == "sum":
        return float(total.replace(",", ""))
    if kind == "size":
        num, unit = total.split()
        return float(num.replace(",", "")) * _SIZE_UNITS[unit]
    if kind in ("timing", "nsTiming"):
        num, unit = total.split()
        return float(num.replace(",", "")) * _TIME_UNITS[unit]
    return None


@dataclass
class Node:
    id: int
    name: str
    metrics: dict[str, float] = field(default_factory=dict)
    children: list[int] = field(default_factory=list)
    parent: int | None = None

    def get(self, metric: str) -> float:
        return self.metrics.get(metric, 0.0)


@dataclass
class Plan:
    """One finished SQL execution: its plan nodes keyed by node id."""
    execution_id: int
    nodes: dict[int, Node]

    def find(self, pred) -> list[Node]:
        return [n for n in self.nodes.values() if pred(n)]

    def descend(self, start: Node, pred) -> list[Node]:
        """Nodes below ``start`` (excluded) matching ``pred``, in
        breadth-first order, so the nearest comes first."""
        out, queue = [], deque(start.children)
        while queue:
            n = self.nodes[queue.popleft()]
            if pred(n):
                out.append(n)
            queue.extend(n.children)
        return out


class SqlMetricsReader:
    """Reads the executions that finished since the previous call."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._gateway = spark.sparkContext._gateway
        self._bus = jsc.listenerBus()
        self._app_store = jsc.statusStore()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._last_id = -1
        self.new_plans()

    def _settle(self) -> None:
        # SQL and task metrics reach the stores through the listener
        # bus, which runs behind the action that produced them
        self._bus.waitUntilEmpty(60_000)

    def new_plans(self) -> list[Plan]:
        self._settle()
        listed = self._store.executionsList()
        ids = sorted(listed.apply(i).executionId()
                     for i in range(listed.size()))
        out = []
        for eid in ids:
            if eid > self._last_id:
                out.append(self._read(eid))
        if ids:
            self._last_id = max(self._last_id, ids[-1])
        return out

    def task_totals(self) -> tuple[int, float]:
        """(tasks finished, summed task run seconds) over every stage
        of the application so far; deltas around an action give its
        task count and busy core time."""
        self._settle()
        gw = self._gateway
        stages = self._app_store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList())
        tasks, run_ms = 0, 0
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            tasks += st.numCompleteTasks() + st.numFailedTasks()
            run_ms += st.executorRunTime()
        return tasks, run_ms / 1000.0

    def _read(self, eid: int) -> Plan:
        values = self._store.executionMetrics(eid)
        graph = self._store.planGraph(eid)
        nodes: dict[int, Node] = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            jn = it.next()
            node = Node(jn.id(), jn.name().strip())
            mit = jn.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                num = parse_metric(m.metricType(),
                                   v.get() if v.isDefined() else None)
                if num is not None:
                    node.metrics[m.name()] = num
            nodes[node.id] = node
        eit = graph.edges().iterator()
        while eit.hasNext():
            e = eit.next()
            child, parent = e.fromId(), e.toId()
            if child in nodes and parent in nodes:
                nodes[parent].children.append(child)
                nodes[child].parent = parent
        return Plan(eid, nodes)

"""Read Spark's own per-operator SQL metrics from the status store.

Works with ``spark.ui.enabled=false``: the SQL status listener still
feeds ``sharedState().statusStore()``. Every completed SQL execution has a
plan graph (operator nodes, WholeStageCodegen clusters, edges) and a map
from metric accumulator id to its display string, such as ``"1,234"``,
``"43.0 MiB"`` or ``"total (min, med, max (stageId: taskId))\\n1.2 s
(...)"``. ``parse_value`` turns those strings into plain numbers: bytes for
sizes, seconds for times.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
         "h": 3600.0}
_NUM_UNIT = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_value(text: str) -> float:
    """The total a status-store metric string reports, as a number.

    Sizes become bytes and durations seconds; a plain count keeps its
    value. Task-aggregated metrics (``"total (min, med, max ...)"``)
    report their total, which is the first figure on the second line."""
    if text is None:
        raise ValueError("metric has no value")
    lines = text.strip().splitlines()
    if not lines:
        raise ValueError("empty metric value")
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") \
        else lines[0]
    m = _NUM_UNIT.match(body)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict = field(default_factory=dict)    # metric name -> number
    children: list = field(default_factory=list)   # node ids
    members: list = field(default_factory=list)    # a codegen stage's nodes


@dataclass
class Execution:
    id: int
    description: str
    nodes: dict                                    # node id -> Node
    jobs: int

    def find(self, prefix: str) -> list:
        return [n for n in self.nodes.values() if n.name.startswith(prefix)]

    def metric(self, prefix: str, name: str) -> float:
        """Sum of metric ``name`` over nodes whose name starts with
        ``prefix``."""
        return sum(n.metrics.get(name, 0.0) for n in self.find(prefix))

    def first_below(self, node: Node, prefix: str):
        """Nearest descendant of ``node`` whose name starts with
        ``prefix``, or None."""
        todo = list(node.children)
        while todo:
            n = self.nodes[todo.pop(0)]
            if n.name.startswith(prefix):
                return n
            todo.extend(n.children)
        return None


class StatusStore:
    """Reader over the SQL status store of one SparkSession."""

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        """Id of the newest execution, -1 if none ran yet."""
        n = self._store.executionsCount()
        if n == 0:
            return -1
        it = self._store.executionsList(int(n) - 1, 1).iterator()
        return int(it.next().executionId()) if it.hasNext() else -1

    def executions_after(self, last_id: int) -> list:
        """Every execution with an id above ``last_id``; call it once the
        listener bus is drained, so that they have all ended."""
        out = []
        it = self._store.executionsList().iterator()
        while it.hasNext():
            ui = it.next()
            eid = int(ui.executionId())
            if eid > last_id:
                out.append(self.execution(ui))
        return sorted(out, key=lambda e: e.id)

    def execution(self, ui) -> Execution:
        eid = int(ui.executionId())
        values = self._store.executionMetrics(eid)
        graph = self._store.planGraph(eid)
        nodes = {}
        it = graph.allNodes().iterator()
        while it.hasNext():
            g = it.next()
            metrics = {}
            mit = g.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                text = values.get(m.accumulatorId())
                try:
                    if text.isDefined():
                        metrics[m.name()] = parse_value(text.get())
                except ValueError:
                    pass    # a spread with no total, e.g. files per task
            node = nodes[int(g.id())] = Node(int(g.id()), g.name(),
                                             g.desc(), metrics)
            if g.getClass().getSimpleName() == "SparkPlanGraphCluster":
                cit = g.nodes().iterator()
                while cit.hasNext():
                    node.members.append(int(cit.next().id()))
        eit = graph.edges().iterator()
        while eit.hasNext():
            e = eit.next()
            # an edge runs from a child operator to its parent
            nodes[int(e.toId())].children.append(int(e.fromId()))
        return Execution(eid, ui.description(), nodes, ui.jobs().size())

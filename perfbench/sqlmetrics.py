"""Spark's per-operator SQL metrics, from the SparkContext's SQL status store.

For every SQL execution (one per action) the SQL status listener keeps
the final, AQE-updated plan graph and each node's metric values. This
module reads them over py4j after the listener bus has drained, and
turns each value into a number in base units: bytes, seconds or a count.
It reads only; it changes no Spark configuration and no plan.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_value(text: str) -> float | None:
    """A metric's display string as a number in base units.

    Spark prints one value as ``"1.2 MiB"`` and values from several tasks
    as ``"total (min, med, max (stageId: taskId))\\n1.2 MiB (...)"``; the
    total is the first number of the last line. Returns None for a form
    that carries no total (averages)."""
    m = _VALUE.match(text.strip().split("\n")[-1])
    if m is None or m.group(2) not in _UNITS:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


@dataclass
class Node:
    nid: int
    name: str
    desc: str
    cluster: int | None  # id of the WholeStageCodegen node holding it
    metrics: dict[str, float] = field(default_factory=dict)
    # accumulator id per metric: a cached plan is drawn under every scan
    # of the cache, with the same accumulators
    accs: dict[str, int] = field(default_factory=dict)


@dataclass
class Execution:
    eid: int
    start: float  # epoch seconds
    end: float
    job_ids: list[int]
    nodes: dict[int, Node]
    edges: list[tuple[int, int]]  # (child id, parent id)

    def producers(self, nid: int) -> list[Node]:
        return [self.nodes[c] for c, p in self.edges if p == nid and c in self.nodes]

    def total(self, metric: str, nodes=None) -> float:
        """Sum of ``metric`` over ``nodes`` (default: all), each accumulator
        counted once."""
        seen = {}
        for n in (self.nodes.values() if nodes is None else nodes):
            if metric in n.metrics:
                seen[n.accs[metric]] = n.metrics[metric]
        return sum(seen.values())


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class SqlMetrics:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listeners have seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def last_id(self) -> int:
        self.drain()
        ids = [e.executionId() for e in _seq(self._sql.executionsList())]
        return max(ids, default=-1)

    def executions(self, after_id: int, wait_s: float = 10.0) -> list[Execution]:
        """Finished executions with an id above ``after_id``, oldest first.

        The listener writes an execution's end to the store with a delay,
        so this polls for up to ``wait_s`` until every listed execution has
        its completion time."""
        deadline = time.monotonic() + wait_s
        while True:
            self.drain()
            listed = [e for e in _seq(self._sql.executionsList())
                      if e.executionId() > after_id]
            done = [e for e in listed if e.completionTime().isDefined()]
            if len(done) == len(listed) or time.monotonic() > deadline:
                return sorted((self._read(e) for e in done), key=lambda x: x.eid)
            time.sleep(0.1)

    def _read(self, e) -> Execution:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid)
        nodes: dict[int, Node] = {}

        def add(n, cluster):
            node = Node(n.id(), n.name(), n.desc(), cluster)
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                x = parse_value(v.get()) if v.isDefined() else None
                if x is not None:
                    node.metrics[m.name()] = x
                    node.accs[m.name()] = m.accumulatorId()
            nodes[n.id()] = node

        for n in _seq(graph.nodes()):
            add(n, None)
            if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                for child in _seq(n.nodes()):
                    add(child, n.id())
        edges = [(x.fromId(), x.toId()) for x in _seq(graph.edges())]
        job_ids = [int(j) for j in _seq(e.jobs().keys())]
        return Execution(eid, e.submissionTime() / 1000.0,
                         e.completionTime().get().getTime() / 1000.0,
                         sorted(job_ids), nodes, edges)

    def tasks(self, job_ids: list[int]) -> int:
        """Tasks the jobs ran (skipped stages excluded)."""
        n = 0
        for j in job_ids:
            data = self._sc.statusStore().job(j)
            n += data.numTasks() - data.numSkippedTasks()
        return n

"""Read Spark's own run-time bookkeeping from outside the program.

Two in-process stores already hold everything the per-layer metrics
need, with ``spark.ui.enabled=false`` too:

* the SQL status store (``spark._jsparkSession.sharedState().statusStore()``):
  one record per SQL execution with its description, jobs, stages and
  the physical plan graph, each plan node carrying formatted metric
  strings such as ``"total (min, med, max (stageId: taskId))\\n2.8 s (...)"``;
* the core status store (``sc.statusStore()``): per-stage task totals
  (run time, CPU, GC, shuffle, spill, failures) and per-task durations.

Nothing here changes what Spark executes; it only reads after actions.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

__all__ = [
    "parse_metric",
    "PlanNode",
    "Execution",
    "StageTotals",
    "StatusStore",
    "node_metric_total",
]

_SECONDS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_BYTES = {
    "B": 1,
    "KiB": 1 << 10,
    "MiB": 1 << 20,
    "GiB": 1 << 30,
    "TiB": 1 << 40,
    "PiB": 1 << 50,
    "EiB": 1 << 60,
}


def parse_metric(text: str) -> float:
    """The total of one formatted SQL metric, as a plain number.

    Timings become seconds, sizes bytes, and sums/counts stay counts.
    Spark writes either a bare total (``"0 ms"``, ``"2,628"``,
    ``"16.1 MiB"``) or a header line followed by
    ``"<total> (<min>, <med>, <max> (stage S: task T))"``; the total is
    the first value of the last line.
    """
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip()
    parts = head.split()
    if len(parts) == 1:
        return float(parts[0].replace(",", ""))
    if len(parts) != 2:
        raise ValueError(f"unrecognised metric value {text!r}")
    number, unit = float(parts[0].replace(",", "")), parts[1]
    if unit in _SECONDS:
        return number * _SECONDS[unit]
    if unit in _BYTES:
        return number * _BYTES[unit]
    raise ValueError(f"unknown unit {unit!r} in metric value {text!r}")


@dataclass
class PlanNode:
    name: str
    desc: str
    #: metric name -> (accumulator id, formatted value)
    metrics: dict[str, tuple[int, str]] = field(default_factory=dict)


@dataclass
class Execution:
    id: int
    description: str
    duration_s: float
    job_ids: list[int]
    stage_ids: list[int]
    nodes: list[PlanNode]


@dataclass
class StageTotals:
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_failures: int = 0
    #: max over median task duration of the stage with the most task time
    heaviest_stage_skew: float = 0.0


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def node_metric_total(
    executions: list[Execution], node_pred, metric: str
) -> float:
    """Sum of ``metric`` over plan nodes accepted by ``node_pred``.

    A persisted subplan shows up in every later execution that reads
    it, with the same accumulator, so each accumulator counts once
    (its largest value, which is its final one).
    """
    latest: dict[int, float] = {}
    for e in executions:
        for n in e.nodes:
            if node_pred(n) and metric in n.metrics:
                acc, raw = n.metrics[metric]
                latest[acc] = max(latest.get(acc, 0.0), parse_metric(raw))
    return sum(latest.values())


class StatusStore:
    """Reads SQL executions and stage totals of one SparkSession."""

    def __init__(self, spark, node_names: tuple[str, ...]) -> None:
        """``node_names``: substrings of the plan-node names whose
        metrics are read; other nodes are skipped (each read is a
        py4j round trip)."""
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark.sparkContext._jvm
        self._gateway = spark.sparkContext._gateway
        self._node_names = node_names

    def executions(self, described: set[str]) -> list[Execution]:
        """Completed executions whose description is in ``described``."""
        out = []
        for e in _iter(self._sql.executionsList()):
            desc = str(e.description())
            if desc not in described:
                continue
            done = e.completionTime()
            if not done.isDefined():
                continue
            eid = int(e.executionId())
            out.append(
                Execution(
                    id=eid,
                    description=desc,
                    duration_s=(done.get().getTime() - e.submissionTime()) / 1000.0,
                    job_ids=[int(j) for j in _iter(e.jobs().keys())],
                    stage_ids=[int(s) for s in _iter(e.stages())],
                    nodes=self._nodes(eid),
                )
            )
        return out

    def _nodes(self, eid: int) -> list[PlanNode]:
        values = self._sql.executionMetrics(eid)
        nodes = []
        for n in _iter(self._sql.planGraph(eid).allNodes()):
            name = str(n.name())
            if not any(k in name for k in self._node_names):
                continue
            node = PlanNode(name=name, desc=str(n.desc()))
            for m in _iter(n.metrics()):
                acc = int(m.accumulatorId())
                v = values.get(acc)
                if v.isDefined():
                    node.metrics[str(m.name())] = (acc, str(v.get()))
            nodes.append(node)
        return nodes

    def stage_totals(self, stage_ids: list[int]) -> StageTotals:
        t = StageTotals()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        heaviest = -1.0
        for sid in sorted(set(stage_ids)):
            attempts = self._app.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, no_quantiles
            )
            for s in _iter(attempts):
                run_s = s.executorRunTime() / 1000.0
                t.tasks += int(s.numCompleteTasks()) + int(s.numFailedTasks())
                t.task_run_s += run_s
                t.task_cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1000.0
                t.shuffle_write_bytes += int(s.shuffleWriteBytes())
                t.spill_bytes += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
                t.task_failures += int(s.numFailedTasks())
                if run_s > heaviest:
                    heaviest = run_s
                    durations = [
                        d.get()
                        for d in (x.duration() for x in _iter(
                            self._app.taskList(sid, s.attemptId(), 100_000)
                        ))
                        if d.isDefined()
                    ]
                    med = statistics.median(durations) if durations else 0
                    t.heaviest_stage_skew = max(durations) / med if med else 0.0
        return t

"""Spans and Spark-side counters for the traced run.

Spans are kept in memory by a `Tracer` and reduced to per-layer numbers at
the end of the run. A disabled tracer records nothing, so the untraced run
pays only a context-manager call per operation.

Spark counters come from three read-only sources:
  * the status tracker and status store, per job group: jobs, tasks and
    shuffle bytes written;
  * the executed plan of a DataFrame the benchmark materialised, walked
    through the adaptive query stages: rows handed to Python, posting rows
    read, shuffle bytes;
  * the SQL status store's plan graphs, for actions an engine function ran
    internally (where no DataFrame is at hand): rows handed to Python.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from stats import self_time

_PYTHON_EXECS = {
    "ArrowEvalPythonExec", "BatchEvalPythonExec", "MapInPandasExec",
    "MapInArrowExec", "FlatMapGroupsInPandasExec", "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec", "WindowInPandasExec", "FlatMapGroupsInArrowExec",
}
_PYTHON_GRAPH_NODES = {n[: -len("Exec")] for n in _PYTHON_EXECS}
# plan nodes that pass rows through unchanged between a scan and its filter
_SCAN_WRAPPERS = {"ColumnarToRowExec", "InputAdapter", "WholeStageCodegenExec", "ProjectExec"}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. `enabled` may be flipped between operations
    so one run can alternate traced and untraced work."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups = itertools.count()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def spark_span(self, name: str, sc):
        """A span whose Spark jobs run under their own job group; on exit
        the span's counts get spark_jobs, spark_tasks and shuffle_bytes."""
        if not self.enabled:
            yield None
            return
        group = f"ftbench-{next(self._groups)}"
        sc.setJobGroup(group, name)
        try:
            with self.span(name) as s:
                yield s
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # read after the span closes, so the lookups are not timed as the layer
        s.counts.update(job_group_counters(sc, group))

    def self_times(self) -> list[float]:
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        return [self_time(s.start, s.end, children[i]) for i, s in enumerate(self.spans)]

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def _iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def job_group_counters(sc, group: str) -> dict:
    """Jobs, tasks run and shuffle bytes written by a job group."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    tasks = shuffle = 0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the status store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        tasks += int(sd.numCompleteTasks())
        shuffle += int(sd.shuffleWriteBytes())
    return {"spark_jobs": len(jobs), "spark_tasks": tasks, "shuffle_bytes": shuffle,
            "job_ids": jobs}


def _metrics(node) -> dict:
    return {kv._1(): int(kv._2().value()) for kv in _iter(node.metrics())}


def _plan_nodes(plan):
    """Flatten an executed plan, descending into adaptive query stages:
    [(class name, metrics, parent index)]."""
    out = []

    def walk(node, parent):
        cls = node.getClass().getSimpleName()
        out.append((cls, _metrics(node), parent))
        me = len(out) - 1
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), me)
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan(), me)
            return
        for child in _iter(node.children()):
            walk(child, me)

    walk(plan, None)
    return out


def plan_counters(df) -> dict:
    """Counters from a materialised DataFrame's executed plan.

    python_rows_sent: rows fed to every Python operator — the row count of
        the first operator below it that reports one;
    scan_rows: rows out of every file scan after its pushed-down filter;
    shuffle_bytes: bytes written by every shuffle exchange."""
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
    children: dict[int, list[int]] = defaultdict(list)
    for i, (_, _, parent) in enumerate(nodes):
        if parent is not None:
            children[parent].append(i)

    def rows_below(i):
        for c in children[i]:
            _, m, _ = nodes[c]
            for key in ("numOutputRows", "recordsRead", "pythonNumRowsReceived"):
                if key in m:
                    return m[key]
            found = rows_below(c)
            if found is not None:
                return found
        return None

    py_rows = scan_rows = shuffle = 0
    for i, (cls, m, parent) in enumerate(nodes):
        if cls in _PYTHON_EXECS:
            py_rows += rows_below(i) or 0
        elif cls == "FileSourceScanExec":
            rows = m.get("numOutputRows", 0)
            p = parent
            while p is not None and nodes[p][0] in _SCAN_WRAPPERS | {"FilterExec"}:
                if nodes[p][0] == "FilterExec":
                    rows = nodes[p][1].get("numOutputRows", rows)
                    break
                p = nodes[p][2]
            scan_rows += rows
        elif cls == "ShuffleExchangeExec":
            shuffle += m.get("shuffleBytesWritten", 0)
    return {"python_rows_sent": py_rows, "scan_rows": scan_rows, "shuffle_bytes": shuffle}


def _graph_count(text: str) -> int | None:
    try:
        return int(text.replace(",", ""))
    except ValueError:  # a size, time or per-task summary, not a plain count
        return None


def sql_python_rows(spark, job_ids) -> int:
    """Rows fed to Python operators by the SQL executions that ran the given
    jobs, read from the SQL status store's plan graphs. Used where an engine
    function ran actions internally, so no DataFrame plan is at hand."""
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = set(job_ids)
    total = 0
    for e in _iter(store.executionsList()):
        ks = e.jobs().keysIterator()
        jobs = set()
        while ks.hasNext():
            jobs.add(int(ks.next()))
        if not jobs & wanted:
            continue
        values = store.executionMetrics(e.executionId())
        graph = store.planGraph(e.executionId())
        nodes = {n.id(): n for n in _iter(graph.allNodes())}
        children: dict[int, list[int]] = defaultdict(list)
        for edge in _iter(graph.edges()):
            children[edge.toId()].append(edge.fromId())

        def rows_of(nid):
            for m in _iter(nodes[nid].metrics()):
                if m.name() in ("number of output rows", "records read"):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        return _graph_count(v.get())
            return None

        def rows_below(nid):
            for c in children[nid]:
                if c not in nodes:
                    continue
                r = rows_of(c)
                if r is not None:
                    return r
                r = rows_below(c)
                if r is not None:
                    return r
            return None

        for nid, n in nodes.items():
            if n.name() in _PYTHON_GRAPH_NODES:
                total += rows_below(nid) or 0
    return total

"""Per-op figures read from Spark's own status APIs, from outside the
engine: job and stage ids from the DAG scheduler's counters, job, stage and
task figures from the app status store, SQL operator metrics from the SQL
status store (all three work with the UI off), Catalyst phase times from a
DataFrame's ``queryExecution().tracker()``, and the cache manager's state.

An op's work is everything Spark started between ``mark()`` and
``collect()``. The benchmark drives one op at a time from one client, so
that window holds exactly the op's jobs, including jobs fired from the
engine's own worker threads, which do not inherit the op's job group.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from tracing import covered

_MB = 1024.0 * 1024.0
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": _MB, "GiB": _MB * 1024.0,
         "TiB": _MB * _MB}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
         "h": 3600.0}

#: SQL metric names of the Python-exec operators (applyInPandas, pandas
#: UDFs, mapInPandas, ...)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"
WRITTEN = "written output"


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``1,000``, ``2.3 MiB``, ``435 ms``,
    or an aggregate's ``<total> (<min>, <med>, <max> ...)``) as a number of
    bytes, seconds or items."""
    line = text.split(" (", 1)[0].strip()
    m = re.fullmatch(r"([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    raise ValueError(f"unknown unit in SQL metric value {text!r}")


def dot_node_metrics(dot: str, seen: set) -> list[dict[str, str]]:
    """Per distinct plan node, its SQL metrics by name, from the plan
    graph's DOT rendering (one py4j call per execution instead of several
    per node). A label is ``<b>name</b><br><br>metric: value<br>...``; an
    aggregated metric is ``metric total (min, med, max ...)<br>value (...)``.
    A cached plan is drawn under every scan of it, in every execution that
    reads the cache, so a node whose label and plan text are already in
    ``seen`` is skipped."""
    out = []
    quoted = r'"((?:[^"\\]|\\.)*)"'
    for label, tip in re.findall(rf" label={quoted} tooltip={quoted}", dot):
        if "<br><br>" not in label or (label, tip) in seen:
            continue
        seen.add((label, tip))
        items = label.split("<br><br>", 1)[1].split("<br>")
        metrics = {}
        for item, nxt in zip(items, items[1:] + [""]):
            head = re.fullmatch(r"(.*?) total \(min, med, max.*", item)
            if head:
                metrics[head.group(1)] = nxt
            else:
                name, sep, value = item.partition(": ")
                if sep and "(stage" not in item:
                    metrics[name] = value
        out.append(metrics)
    return out


@dataclass
class Mark:
    job: int
    stage: int
    execution: int


class SparkProbe:
    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)

    def _java(self, seq):
        return self._conv.asJava(seq)

    def _executions_since(self, last: int) -> list:
        """SQL executions with an id above ``last``, oldest first. Reads
        the tail of the retained list, widening until it reaches back past
        ``last`` or to the start."""
        count = int(self._sql.executionsCount())
        width = 64
        while True:
            off = max(0, count - width)
            rows = list(self._java(self._sql.executionsList(off, count - off)))
            if off == 0 or (rows and rows[0].executionId() <= last):
                return [e for e in rows if e.executionId() > last]
            width *= 4

    def _max_execution_id(self) -> int:
        count = int(self._sql.executionsCount())
        if count == 0:
            return -1
        rows = list(self._java(self._sql.executionsList(count - 1, 1)))
        return int(rows[-1].executionId()) if rows else -1

    def mark(self) -> Mark:
        return Mark(int(self._dag.nextJobId()), int(self._dag.nextStageId()),
                    self._max_execution_id())

    def jobs_since(self, m: Mark) -> int:
        return int(self._dag.nextJobId()) - m.job

    def collect(self, m: Mark, t0: float, t1: float) -> dict[str, float]:
        """Figures for all work started since ``m``; ``t0``/``t1`` are the
        op's wall-clock bounds (epoch seconds) for the driver-gap figure."""
        out = dict.fromkeys((
            "jobs", "stages", "tasks", "task_s", "input_b", "shuffle_read_b",
            "shuffle_write_b", "spill_b", "gc_s", "py_rows", "py_sent_b",
            "py_recv_b", "py_s", "written_b"), 0.0)
        job_end = int(self._dag.nextJobId())
        intervals = []
        for jid in range(m.job, job_end):
            try:
                j = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            out["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                a = sub.get().getTime() / 1000.0
                b = done.get().getTime() / 1000.0 if done.isDefined() else t1
                intervals.append((max(a, t0), min(b, t1)))
        for sid in range(m.stage, int(self._dag.nextStageId())):
            try:
                attempts = self._java(self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False,
                    self._no_quantiles))
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            for s in attempts:
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["task_s"] += s.executorRunTime() / 1000.0
                out["input_b"] += s.inputBytes()
                out["shuffle_read_b"] += s.shuffleReadBytes()
                out["shuffle_write_b"] += s.shuffleWriteBytes()
                out["spill_b"] += s.diskBytesSpilled()
                out["gc_s"] += s.jvmGcTime() / 1000.0
        out["gap_s"] = max(0.0, (t1 - t0) - covered(intervals))
        seen: set = set()
        for e in self._executions_since(m.execution):
            eid = e.executionId()
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for metrics in dot_node_metrics(dot, seen):
                if PY_SENT in metrics:
                    out["py_sent_b"] += parse_metric(metrics[PY_SENT])
                    out["py_recv_b"] += parse_metric(metrics.get(PY_RECV, "0"))
                    out["py_s"] += parse_metric(metrics.get(PY_TIME, "0"))
                    out["py_rows"] += parse_metric(
                        metrics.get("number of output rows", "0"))
                if WRITTEN in metrics:
                    out["written_b"] += parse_metric(metrics[WRITTEN])
        return out

    def catalyst(self, df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``'s own
        query execution. Planning is lazy: a DataFrame that was not itself
        executed (its rows were written through a new command) is planned
        here, after the op."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self._java(qe.tracker().phases())
        return {k: phases.get(k).durationMs() / 1000.0
                for k in ("analysis", "optimization", "planning")
                if phases.containsKey(k)}

    def cache_empty(self) -> bool:
        return bool(self.spark._jsparkSession.sharedState()
                    .cacheManager().isEmpty())

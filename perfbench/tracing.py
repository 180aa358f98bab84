"""Spans recorded by the benchmark around its calls into the engine, and
per-step Spark metrics read from Spark's status stores (both work with
``spark.ui.enabled=false``). Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from statistics import median


class Tracer:
    """In-memory spans: name, start, end, parent span and run id.

    Disabled tracers record nothing, so untraced runs pay one branch
    per span.
    """

    def __init__(self, run_id: str, enabled: bool = False):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return {s["id"]: (s["end"] - s["start"]) - covered(
                    [(c["start"], c["end"]) for c in kids.get(s["id"], [])])
                for s in self.spans if s["end"] is not None}

    def self_time_table(self) -> dict[str, dict[str, float]]:
        """Span name -> count, median duration and median self time."""
        st = self.self_times()
        by: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["end"] is not None:
                by.setdefault(s["name"], []).append(s)
        return {name: {"n": len(ss),
                       "median_s": median(s["end"] - s["start"] for s in ss),
                       "median_self_s": median(st[s["id"]] for s in ss)}
                for name, ss in sorted(by.items())}


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '7.2 s (1.7 s, ...)' or '1,234'
    or a 'total (min, med, max ...)' header line followed by those."""
    line = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = re.fullmatch(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: SQL metric names of the Python UDF exec nodes (Spark 4.1)
PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
_PY_NODE = re.compile(r"Python|Arrow|Pandas")


def _seq(jvm, x) -> list:
    """Scala Seq / Java collection -> Python list."""
    try:
        return list(x)
    except TypeError:
        return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(x))


class SparkProbe:
    """Reads what Spark recorded for one job group: jobs, stages, tasks,
    shuffle, spill, GC, the final AQE plans and the Python UDF metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = self.sql.executionsCount()

    def _new_executions(self) -> list:
        """SQL executions started since the previous call."""
        n = self.sql.executionsCount()
        new = _seq(self.jvm, self.sql.executionsList(self._seen_exec, n - self._seen_exec)) \
            if n > self._seen_exec else []
        self._seen_exec = n
        return new

    def group(self, group: str, wall_start: float, wall_end: float,
              plans: bool = True) -> dict:
        """Metrics of every job run under ``group`` in [wall_start, wall_end];
        with ``plans`` also those of the SQL executions' final plans."""
        # the status stores are fed by the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"driver.jobs": len(job_ids), "spark.stages": 0, "spark.tasks": 0,
               "spark.shuffle_write_mb": 0.0, "spark.shuffle_read_mb": 0.0,
               "spark.spill_mb": 0.0, "spark.task_run_s": 0.0, "spark.task_cpu_s": 0.0,
               "spark.gc_s": 0.0, "spark.exchanges": 0, "spark.task_skew": 1.0,
               "python.rows_out": 0, **{v: 0.0 for v in PY_METRICS.values()}}
        job_spans, stage_ids = [], set()
        for jid in job_ids:
            jd = self.store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                job_spans.append((jd.submissionTime().get().getTime() / 1e3,
                                  jd.completionTime().get().getTime() / 1e3))
            stage_ids.update(_seq(self.jvm, jd.stageIds()))
        longest = None
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.task_run_s"] += sd.executorRunTime() / 1e3
            out["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["spark.gc_s"] += sd.jvmGcTime() / 1e3
            out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["spark.spill_mb"] += sd.diskBytesSpilled() / 2**20
            if longest is None or sd.executorRunTime() > longest.executorRunTime():
                longest = sd
        if longest is not None and longest.numCompleteTasks() > 1:
            out["spark.task_skew"] = self._task_skew(longest)
        wall = wall_end - wall_start
        out["driver.only_s"] = max(0.0, wall - covered(
            [(max(a, wall_start), min(b, wall_end)) for a, b in job_spans
             if b > wall_start and a < wall_end]))
        out["spark.core_util"] = out["spark.task_run_s"] / (wall * self.sc.defaultParallelism) \
            if wall > 0 else 0.0
        jobs = set(job_ids)
        out["executions"] = []
        for e in self._new_executions() if plans else ():
            ejobs = {int(j) for j in _seq(self.jvm, e.jobs().keySet())}
            if ejobs & jobs:
                out["executions"].append(self._execution(e, out))
        return out

    def _task_skew(self, sd) -> float:
        q = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self.store.taskSummary(sd.stageId(), sd.attemptId(), q)
        if not summary.isDefined():
            return 1.0
        med, mx = _seq(self.jvm, summary.get().executorRunTime())
        return mx / med if med > 0 else 1.0

    def _execution(self, e, out: dict) -> dict:
        """Fold one SQL execution's final-plan metrics into ``out``;
        return its plan as {node id: (name, {metric: value})} and
        (child, parent) edges for callers that need operator counts."""
        eid = e.executionId()
        values = self.sql.executionMetrics(eid)
        seen: set[int] = set()
        for m in _seq(self.jvm, e.metrics()):
            acc = m.accumulatorId()
            if acc in seen or m.name() not in PY_METRICS:
                continue
            seen.add(acc)
            v = values.get(acc)
            if v.isDefined():
                val = parse_metric(v.get())
                key = PY_METRICS[m.name()]
                out[key] += val / 2**20 if key.endswith("_mb") else val
        nodes = {}
        graph = self.sql.planGraph(eid)
        for node in _seq(self.jvm, graph.allNodes()):
            name = node.name()
            metrics = {}
            for m in _seq(self.jvm, node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes[node.id()] = (name, metrics)
            if name == "Exchange":
                out["spark.exchanges"] += 1
            if _PY_NODE.search(name):
                out["python.rows_out"] += int(metrics.get("number of output rows", 0))
        edges = [(ed.fromId(), ed.toId()) for ed in _seq(self.jvm, graph.edges())]
        return {"id": eid, "nodes": nodes, "edges": edges}

"""Traced-run collector: in-memory spans plus Spark counters, read once at
the end of a run.

- Spans: name, start, end, parent and run id, kept in memory. Every span
  runs its Spark jobs under its own job group, so the driver's status
  store attributes jobs, stages and task metrics to it afterwards.
- Steps are forced through their own QueryExecution (`toRdd().count()`),
  which runs the same physical plan as a noop write but leaves the
  executed plan, and so its SQL metrics (rows per operator, time to run
  Python workers, broadcast sizes), readable from Python.
- Eager calls that run their own queries (the checkpointed pipeline) are
  measured through the SQL status store and the `_lineage.json` manifests
  they write.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float | None = None
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run}/{self.id}"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    intervals = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end is not None and c.end > span.start and c.start < span.end
    )
    covered, cur_start, cur_end = 0.0, None, None
    for lo, hi in intervals:
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class Tracer:
    """Spans of one run. `span()` nests; the innermost open span owns the
    job group of every Spark job started inside it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        s = Span(len(self.spans), name, self._open[-1].id if self._open else None, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._open.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if self._open:
                sc.setJobGroup(self._open[-1].group, self._open[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def add(self, span: Span, key: str, value: float) -> None:
        """Add a counter measured outside the status store (an executed
        plan's SQL metric) to `span` and every span enclosing it."""
        node: Span | None = span
        while node is not None:
            node.counters[key] = node.counters.get(key, 0.0) + value
            node = self.spans[node.parent] if node.parent is not None else None

    def find(self, name: str) -> Span | None:
        return next((s for s in self.spans if s.name == name), None)

    def records(self) -> list[dict[str, Any]]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "run": s.run,
                "start": s.start,
                "end": s.end,
                "duration_s": s.duration,
                "self_s": self_time(s, self.children(s)),
                "counters": s.counters,
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------


def force(df):
    """Run `df`'s physical plan to the end, discarding rows; returns
    (row count, QueryExecution)."""
    qe = df._jdf.queryExecution()
    return int(qe.toRdd().count()), qe


def plan_nodes(qe) -> list[dict[str, Any]]:
    """Executed-plan operators, parents before children, each as
    {name, metrics: {metric name: value}}. Descends into adaptive plans
    and query stages. Timing metrics are converted to seconds."""
    out: list[dict[str, Any]] = []

    def walk(node) -> None:
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            value = float(m.value())
            if m.metricType() == "timing":
                value /= 1e3
            elif m.metricType() == "nsTiming":
                value /= 1e9
            metrics[kv._1()] = value
        out.append({"name": node.nodeName(), "metrics": metrics})
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(qe.executedPlan())
    return out


def metric_sum(nodes: list[dict[str, Any]], node_prefix: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes if n["name"].startswith(node_prefix))


def python_seconds(nodes: list[dict[str, Any]]) -> float:
    """Time to run Python workers, over every Arrow/pandas Python operator."""
    return sum(n["metrics"].get("pythonTotalTime", 0.0) for n in nodes)


# ---------------------------------------------------------------------------
# status store: jobs, stages, cache, SQL executions
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


class StatusSnapshot:
    """One read of the driver's status store, taken after the traced work."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty_q = sc._gateway.new_array(jvm.double, 0)
        self.jobs = [
            {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "stages": list(_seq(j.stageIds())),
            }
            for j in _seq(store.jobsList(None))
        ]
        self.stages: dict[int, dict[str, float]] = {}
        for st in _seq(store.stageList(None, False, False, empty_q, jvm.java.util.ArrayList())):
            agg = self.stages.setdefault(
                st.stageId(), {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
            )
            agg["tasks"] += st.numCompleteTasks()
            agg["run_s"] += st.executorRunTime() / 1e3
            agg["cpu_s"] += st.executorCpuTime() / 1e9
            agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
            agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self.sql_python_s = self._sql_python_seconds(spark)

    @staticmethod
    def _sql_python_seconds(spark) -> dict[int, float]:
        """job id -> time to run Python workers of the SQL execution that
        job belongs to (charged to the execution's first job). Only SQL
        executions are recorded here; steps forced through `force` are read
        from their executed plan instead."""
        store = spark._jsparkSession.sharedState().statusStore()
        out: dict[int, float] = {}
        for ex in _seq(store.executionsList()):
            ids = [m.accumulatorId() for m in _seq(ex.metrics()) if m.name() == "time to run Python workers"]
            if not ids:
                continue
            values, it = {}, store.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                values[int(kv._1())] = kv._2()
            total = sum(_duration_seconds(values.get(int(i), "")) for i in ids)
            job_ids = sorted(int(k) for k in _seq(ex.jobs().keys().toSeq()))
            if job_ids and total:
                out[job_ids[0]] = out.get(job_ids[0], 0.0) + total
        return out

    def counters(self, jobs: list[dict[str, Any]]) -> dict[str, float]:
        stage_ids = {s for j in jobs for s in j["stages"]}
        st = [self.stages[s] for s in stage_ids if s in self.stages]
        return {
            "jobs": len(jobs),
            "tasks": sum(s["tasks"] for s in st),
            "executor_run_s": sum(s["run_s"] for s in st),
            "executor_cpu_s": sum(s["cpu_s"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
            "spill_bytes": sum(s["spill_bytes"] for s in st),
            "python_s": sum(self.sql_python_s.get(j["id"], 0.0) for j in jobs),
        }

    def jobs_in(self, groups: set[str]) -> list[dict[str, Any]]:
        return [j for j in self.jobs if j["group"] in groups]


_DURATION = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_seconds(text: str) -> float:
    """First duration in a status-store metric string ('total (min, med,
    max)\\n2.3 s (...)' -> 2.3)."""
    m = _DURATION.search(text.split("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def cache_bytes(spark) -> int:
    """Bytes of cached blocks (memory and disk) the driver tracks now."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return sum(r.memoryUsed() + r.diskUsed() for r in _seq(store.rddList(True)))


def attach_counters(tracer: Tracer, snap: StatusSnapshot) -> None:
    """Inclusive Spark counters per span: the jobs of the span's own group
    and of every descendant's."""
    for s in tracer.spans:
        groups = {s.group} | {d.group for d in tracer.descendants(s)}
        s.counters.update(snap.counters(snap.jobs_in(groups)))


# ---------------------------------------------------------------------------
# checkpoint directory walk
# ---------------------------------------------------------------------------


def walk_checkpoints(base: str) -> dict[str, dict[str, Any]]:
    """stage -> {wall_s, rows, files, bytes, content_hash} from every
    `_lineage.json` manifest under `base`."""
    out: dict[str, dict[str, Any]] = {}
    if not os.path.isdir(base):
        return out
    for name in sorted(os.listdir(base)):
        stage_dir = os.path.join(base, name)
        manifest = os.path.join(stage_dir, "_lineage.json")
        if not os.path.isfile(manifest):
            continue
        with open(manifest) as fh:
            m = json.load(fh)
        size = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(stage_dir)
            for f in files
            if f.endswith(".parquet")
        )
        out[name] = {
            "wall_s": float(m["wall_seconds"]),
            "rows": int(m["rows"]),
            "files": int(m["n_files"]),
            "bytes": size,
            "content_hash": m["content_hash"],
        }
    return out

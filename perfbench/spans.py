"""Spans at layer boundaries, and the Spark counters each span caused.

A span sets the Spark job group (and job description) of the calling
thread, so every job, stage and SQL execution launched inside it carries
the span's id. PySpark pins each Python thread to its own JVM thread, so
local properties do not follow work into another thread: a span opened
on a ``ThreadPoolExecutor`` thread sets the group for that thread itself.

After the traced run, :meth:`Tracer.collect` reads Spark's own status
stores (both fill in with ``spark.ui.enabled=false``):

- ``statusTracker().getJobIdsForGroup`` -> ``getJobInfo(j).stageIds``;
- ``sc._jsc.sc().statusStore().lastStageAttempt(sid)`` for task CPU, GC,
  shuffle write and spill;
- ``sharedState().statusStore()`` (the SQL store) for the Python-worker
  metrics of each plan node. Executions are matched to spans by their
  description, which Spark copies from the job description.

A pinned (``localCheckpoint``) frame is planned in one SQL execution and
computed by the jobs of a later one, so the SQL store never aggregates
its node metrics; for those the metric's live accumulator value is read
instead.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_RUN = "time to run Python workers"
PY_IO = ("data sent to Python workers", "data returned from Python workers")
PY_METRICS = (*PY_BOOT, PY_RUN, *PY_IO)
OUT_ROWS = "number of output rows"
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowEvalPythonUDTF")
# the streaming bucket pair expander (minhash.bucket_pairs) runs as a
# MapInPandas node whose description names its Python function
EXPANDER_DESC = "MapInPandas expand("
PREFIX = "perfbench-span-"

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4, "PiB": 1024.0 ** 5,
}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)\s*$")


def parse_metric(text: str) -> float:
    """A formatted SQL-store metric as a plain number: seconds for a
    timing, bytes for a size, the count for a sum.

    The store renders ``"6.5 s"``, ``"7.6 MiB"``, ``"1,234"``, or, when
    the metric has per-task statistics, ``"total (min, med, max (stageId:
    taskId))\\n6.5 s (0.1 s, 0.2 s, 1.0 s (stage 3.0: task 5))"``; the
    total is the first value of the last line."""
    lines = text.strip().splitlines()
    m = _VALUE.match(lines[-1].split(" (", 1)[0]) if lines else None
    if not m:
        raise ValueError(f"unparseable metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return num * _UNITS.get(unit, 1.0)


def raw_metric(value: int, metric_type: str) -> float:
    """An accumulator's raw value in the units :func:`parse_metric`
    returns (``timing`` accumulates ms, ``nsTiming`` ns)."""
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return float(value)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    # counters filled by Tracer.collect()
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    py_boot_s: float = 0.0
    py_run_s: float = 0.0
    py_io_mb: float = 0.0
    expander_rows: int = 0
    self_s: float = 0.0

    @property
    def group(self) -> str:
        return f"{PREFIX}{self.sid}"

    @property
    def wall_s(self) -> float:
        return (self.end or self.start) - self.start


def storage_mb(spark) -> float:
    """Memory + disk held by persisted and pinned RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20


def self_times(spans: list[Span]) -> None:
    """Set each span's ``self_s``: its duration minus the part of its
    interval that its child spans cover (children may overlap each other,
    e.g. a stage running on another thread)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    for s in spans:
        inner = [(c.start, c.end) for c in kids.get(s.sid, ())]
        s.self_s = s.wall_s - covered(inner, s.start, s.end)


class Tracer:
    """Opens spans and, once the traced run is over, attributes Spark's
    counters to them. A disabled tracer's spans do nothing, so the timed
    untraced runs execute the identical workload code."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[Span] = []
        self._local.stack = self._main_stack
        self._n_execs = 0
        self._live: dict[int, float] = {}
        self._py_metrics: list[tuple[Span, int, int, str]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a span opened on a fresh thread was caused by whatever the
        # main thread is inside
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            s = Span(len(self.spans), name,
                     parent.sid if parent else None, time.perf_counter())
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self._scan_executions()

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # --- reading Spark's status stores ---------------------------------
    def collect(self, root: str = "bench.run") -> dict:
        """Fill every span's counters. Returns the driver counts (jobs,
        stages, tasks) of the spans under the first span named ``root``,
        and the number of jobs launched outside every span."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_span: dict[int, Span] = {}
        for s in self.spans:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                job_span[j] = s
        # a stage id can appear in several jobs (reused shuffle output
        # shows up as skipped); count it once, for the first job
        seen: set[int] = set()
        for j in sorted(job_span):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            s = job_span[j]
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage was evicted from the store
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                s.stages += 1
                s.tasks += sd.numCompleteTasks()
                s.task_cpu_s += sd.executorCpuTime() / 1e9
                s.gc_s += sd.jvmGcTime() / 1e3
                s.shuffle_write_mb += sd.shuffleWriteBytes() / 2 ** 20
                s.spill_mb += sd.diskBytesSpilled() / 2 ** 20
        self._collect_sql()
        self_times(self.spans)
        under = self.subtree(root)
        return {"jobs": sum(len(s.jobs) for s in under),
                "stages": sum(s.stages for s in under),
                "tasks": sum(s.tasks for s in under),
                "untagged_jobs": len(tracker.getJobIdsForGroup(None))}

    def subtree(self, name: str) -> list[Span]:
        """The first span named ``name`` and all its descendants."""
        top = self.find(name)
        if not top:
            return []
        sids = {top[0].sid}
        for s in self.spans:  # parents always precede their children
            if s.parent in sids:
                sids.add(s.sid)
        return [s for s in self.spans if s.sid in sids]

    def _scan_executions(self) -> None:
        """Record the Python plan nodes of SQL executions not seen yet,
        with the live values of their metric accumulators. Called at every
        span exit: the plan of a pinned frame becomes garbage once its
        checkpoint job is done, and its accumulators with it."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        accs = self.spark.sparkContext._jvm.org.apache.spark.util.AccumulatorContext
        total = sql.executionsCount()
        if total <= self._n_execs:
            return
        it = sql.executionsList(self._n_execs, total - self._n_execs).iterator()
        self._n_execs = total
        by_group = {s.group: s for s in self.spans}
        while it.hasNext():
            e = it.next()
            span = by_group.get(e.description())
            if span is None:
                continue
            nodes = sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if node.name() not in PYTHON_NODES:
                    continue
                is_expander = node.desc().startswith(EXPANDER_DESC)
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    name = m.name()
                    if name not in PY_METRICS and not (
                            is_expander and name == OUT_ROWS):
                        continue
                    acc_id = m.accumulatorId()
                    live = accs.get(acc_id)
                    if live.isDefined():
                        self._live[acc_id] = raw_metric(
                            live.get().value(), m.metricType())
                    self._py_metrics.append(
                        (span, e.executionId(), acc_id, name))

    def _collect_sql(self) -> None:
        """Add each Python node metric to its span: the SQL store's
        aggregated value when the execution ran jobs itself, else the
        value recorded live by :meth:`_scan_executions`."""
        self._scan_executions()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        values: dict[int, object] = {}
        seen: set[int] = set()
        for span, eid, acc_id, name in self._py_metrics:
            # the same accumulator shows in every execution that reuses
            # the plan node; count it once
            if acc_id in seen:
                continue
            seen.add(acc_id)
            if eid not in values:
                values[eid] = sql.executionMetrics(eid)
            text = values[eid].get(acc_id)
            if text.isDefined():
                v = parse_metric(text.get())
            else:
                v = self._live.get(acc_id, 0.0)
            if name in PY_BOOT:
                span.py_boot_s += v
            elif name == PY_RUN:
                span.py_run_s += v
            elif name in PY_IO:
                span.py_io_mb += v / 2 ** 20
            else:
                span.expander_rows += int(v)

    def table(self) -> list[dict]:
        return [{"sid": s.sid, "name": s.name, "parent": s.parent,
                 "wall_s": round(s.wall_s, 4), "self_s": round(s.self_s, 4),
                 "jobs": len(s.jobs), "stages": s.stages,
                 "task_cpu_s": round(s.task_cpu_s, 3),
                 "py_boot_s": round(s.py_boot_s, 3),
                 "py_run_s": round(s.py_run_s, 3)} for s in self.spans]

"""Spans around the package's public calls, and Spark task metrics
attributed to them through the event log.

The tracer is installed from outside the package: :func:`instrument`
replaces each public function and method of the listed modules with a
wrapper that opens a span. A span sets its own Spark job group
(``spark.jobGroup.id``, a local property the package never sets) and
restores its parent's on exit, so every job in the event log names the
innermost span that launched it. Spans stay in memory; the event log is
read once, after the session stops.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import union_length

# layer name -> module that implements it
LAYER_MODULES = {
    "session": "oasysdb_spark.session",
    "core.database": "oasysdb_spark.core.database",
    "core.tables": "oasysdb_spark.core.tables",
    "index.ivf": "oasysdb_spark.index.ivf",
    "index.pq": "oasysdb_spark.index.pq",
    "index.hnsw": "oasysdb_spark.index.hnsw",
    "filters": "oasysdb_spark.filters",
    "sources.tables": "oasysdb_spark.sources.tables",
    "operators.relational": "oasysdb_spark.operators.relational",
    "operators.temporal": "oasysdb_spark.operators.temporal",
    "operators.dedup": "oasysdb_spark.operators.dedup",
    "operators.textops": "oasysdb_spark.operators.textops",
    "operators.vectorops": "oasysdb_spark.operators.vectorops",
    "operators.similarity_join": "oasysdb_spark.operators.similarity_join",
    "operators.multimodal": "oasysdb_spark.operators.multimodal",
}

# Modules whose namespaces may hold a reference to a wrapped function.
_REFERRER_PREFIXES = ("oasysdb_spark", "__spark_entry__", "bench")

GROUP_PROPERTY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: int
    end: float = float("nan")

    @property
    def group(self) -> str:
        return f"pb-{self.sid}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. ``sc`` is the SparkContext whose job group
    each span sets; ``None`` records spans without touching Spark."""

    def __init__(self, sc=None, clock=time.time):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = 0
        self.enabled = True

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, layer, self.clock(),
                 parent.sid if parent else None, self.op)
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = self.clock()
            self.stack.pop()
            self._set_group(parent.group if parent else None)

    def _set_group(self, group):
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROPERTY, group)


def _resolve(module: str, attr: str):
    """Unpickle target: the worker's (unwrapped) function."""
    return getattr(importlib.import_module(module), attr)


class _Traced:
    """A module-level function wrapped in a span. Pickles as a reference
    to the original, so closures shipped to Python workers never carry
    the tracer."""

    def __init__(self, tracer, fn, name, layer, home):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._name = name
        self._layer = layer
        self._home = home

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self.__wrapped__(*args, **kwargs)
        with self._tracer.span(self._name, self._layer):
            return self.__wrapped__(*args, **kwargs)

    def __reduce__(self):
        return _resolve, self._home


def _wrap_method(tracer, fn, name, layer):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def instrument(tracer: Tracer, layers: dict[str, str] = LAYER_MODULES):
    """Wrap every public function and public method defined in each
    layer's module. Returns a callable that restores the originals."""
    undo = []
    mods = {layer: importlib.import_module(name) for layer, name in layers.items()}
    referrers = [
        m for n, m in list(sys.modules.items())
        if m is not None and n.startswith(_REFERRER_PREFIXES)
    ]
    for layer, mod in mods.items():
        modname = mod.__name__
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                continue
            if inspect.isfunction(obj):
                traced = _Traced(tracer, obj, f"{layer}.{attr}", layer, (modname, attr))
                for ref in referrers:
                    for rattr, robj in list(vars(ref).items()):
                        if robj is obj:
                            setattr(ref, rattr, traced)
                            undo.append((ref, rattr, obj))
            elif inspect.isclass(obj):
                for mname, raw in list(vars(obj).items()):
                    if mname.startswith("_"):
                        continue
                    name = f"{layer}.{obj.__name__}.{mname}"
                    if isinstance(raw, classmethod):
                        new = classmethod(_wrap_method(tracer, raw.__func__, name, layer))
                    elif isinstance(raw, staticmethod):
                        new = staticmethod(_wrap_method(tracer, raw.__func__, name, layer))
                    elif inspect.isfunction(raw):
                        new = _wrap_method(tracer, raw, name, layer)
                    else:
                        continue
                    setattr(obj, mname, new)
                    undo.append((obj, mname, raw))

    def restore():
        for target, attr, original in reversed(undo):
            setattr(target, attr, original)

    return restore


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.
    Children that overlap each other count once; a child that runs past
    its parent is clipped to the parent's interval."""
    kids = children_of(spans)
    return {
        s.sid: s.seconds - union_length(
            [(c.start, c.end) for c in kids.get(s.sid, ())], s.start, s.end
        )
        for s in spans
    }


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

TASK_FIELDS = (
    "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_bytes", "spill_bytes",
    "input_bytes", "input_records",
)
SQL_METRICS = ("number of partitions read", "number of files read")


@dataclass
class TaskTotals:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    input_records: float = 0.0

    def add(self, other: "TaskTotals") -> None:
        self.jobs += other.jobs
        for f in TASK_FIELDS:
            setattr(self, f, getattr(self, f) + getattr(other, f))


@dataclass
class Job:
    group: str | None
    submit: float  # epoch seconds
    end: float = float("nan")
    totals: TaskTotals = field(default_factory=lambda: TaskTotals(jobs=1))


@dataclass
class EventLog:
    """One application's event log: every job with its job group, times
    and task totals, and the SQL scan metrics per job group."""

    jobs: dict[int, Job] = field(default_factory=dict)
    sql: dict = field(default_factory=dict)  # group -> {metric name: sum}

    def by_group(self) -> dict:
        out: dict = {}
        for job in self.jobs.values():
            out.setdefault(job.group, TaskTotals()).add(job.totals)
        return out

    def in_window(self, lo: float, hi: float) -> list[Job]:
        return [j for j in self.jobs.values() if lo <= j.submit < hi]


def parse_event_log(lines) -> EventLog:
    """Read a Spark JSON event log (uncompressed, non-rolling). A task
    counts toward the first job that listed its stage."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str | None] = {}
    accum_names: dict[int, str] = {}

    def collect_accums(plan):
        for m in plan.get("metrics", ()):
            if m["name"] in SQL_METRICS:
                accum_names[m["accumulatorId"]] = m["name"]
        for child in plan.get("children", ()):
            collect_accums(child)

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job_id = e["Job ID"]
            log.jobs[job_id] = Job(props.get(GROUP_PROPERTY), e["Submission Time"] / 1000.0)
            for st in e.get("Stage IDs", ()):
                stage_job.setdefault(st, job_id)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]),
                                      props.get(GROUP_PROPERTY))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics")
            job = log.jobs.get(stage_job.get(e["Stage ID"]))
            if not tm or job is None:
                continue
            g = job.totals
            g.tasks += 1
            g.run_ms += tm.get("Executor Run Time", 0)
            g.cpu_ns += tm.get("Executor CPU Time", 0)
            g.gc_ms += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            g.shuffle_bytes += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics", {})
            g.input_bytes += inp.get("Bytes Read", 0)
            g.input_records += inp.get("Records Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if "jobGroupId" in e:
                exec_group[e["executionId"]] = e["jobGroupId"]
            collect_accums(e.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            collect_accums(e.get("sparkPlanInfo", {}))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            sql = log.sql.setdefault(exec_group.get(e["executionId"]), {})
            for acc_id, value in e.get("accumUpdates", ()):
                name = accum_names.get(acc_id)
                if name is not None:
                    sql[name] = sql.get(name, 0) + value
    return log


def read_event_log(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse_event_log(f)


class SpanTree:
    """Spans with their job-group totals, for inclusive sums."""

    def __init__(self, spans: list[Span], log: EventLog):
        self.spans = spans
        self.kids = children_of(spans)
        groups = log.by_group()
        self.own = {s.sid: groups[s.group] for s in spans if s.group in groups}
        self.own_sql = {s.sid: log.sql[s.group] for s in spans if s.group in log.sql}
        self.self_s = self_times(spans)

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(c.sid for c in self.kids.get(cur, ()))
        return out

    def totals(self, sid: int) -> TaskTotals:
        """Task totals of a span's own jobs plus every descendant's."""
        total = TaskTotals()
        for d in self.subtree(sid):
            if d in self.own:
                total.add(self.own[d])
        return total

    def sql(self, sid: int, name: str) -> float:
        return sum(self.own_sql.get(d, {}).get(name, 0) for d in self.subtree(sid))

"""Spans for the traced run, recorded from outside the engine.

The engine is not edited. Instead :func:`install` wraps the public
functions of each layer where they are looked up: a module that did
``from x import f`` holds its own reference to ``f``, so every module
attribute (and class attribute) that *is* the original function is
replaced by the wrapper.

A span records its name, start, end, parent and op id, and is kept in
memory until the run writes it out. Each span runs its Spark jobs under
a job group of its own (the previous ``spark.jobGroup.id`` is saved and
restored), and at the span's end the status tracker gives the jobs and
completed tasks of that group. Driver threads started with
``inheritable_thread_target`` (``run_pipeline``'s pool) inherit the
group, and their spans take the submitting thread's open span as parent.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int = 0
    tasks: int = 0


class Tracer:
    """In-memory span recorder; one per run."""

    #: spans whose completed tasks are counted (two status-tracker calls
    #: per stage, so only where a metric needs them)
    TASK_SPANS = frozenset({"queries.execute"})

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        #: seconds spent in the tracer's own bookkeeping (job groups,
        #: status-tracker calls), the direct part of tracing overhead
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> tuple[int, str | None]:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, parent, self.op))
        stack.append(idx)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, f"perfbench-{idx}")
        t1 = time.perf_counter()
        self.spans[idx].start = t1
        with self._lock:
            self.overhead_s += t1 - t0
        return idx, prev

    def finish(self, idx: int, prev: str | None) -> None:
        t0 = time.perf_counter()
        span = self.spans[idx]
        span.end = t0
        self._stack().pop()
        if self.sc is not None:
            self.sc.setLocalProperty(_GROUP, prev)
            span.jobs, span.tasks = self._jobs_of(f"perfbench-{idx}",
                                                  span.name in self.TASK_SPANS)
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    def _jobs_of(self, group: str, count_tasks: bool) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for j in (jobs if count_tasks else ()):
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx, prev = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.finish(idx, prev)
        traced.__wrapped_by_perfbench__ = fn
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx, self.prev = self.tracer.begin(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.finish(self.idx, self.prev)
        return False


# -- patching ----------------------------------------------------------------
#: (module, attribute path, span name). Each layer's public entry points.
TARGETS = (
    ("datalake_project_spark.catalog", "Catalog.table", "catalog.table"),
    ("datalake_project_spark.lake", "Lake.write_formatted", "lake.write_formatted"),
    ("datalake_project_spark.lake", "Lake.write_usage", "lake.write_usage"),
    ("datalake_project_spark.lake", "Lake.read_usage", "lake.read_usage"),
    ("datalake_project_spark.lake", "Lake.latest_run_before", "lake.latest_run_before"),
    ("datalake_project_spark.sources.json_ingest", "ingest_records", "sources.ingest_records"),
    ("datalake_project_spark.functions.gender", "enrich_gender_native",
     "functions.enrich_gender_native"),
    ("datalake_project_spark.operators.diff", "snapshot_diff", "operators.snapshot_diff"),
    ("datalake_project_spark.streaming.ops", "run_available_now",
     "streaming.run_available_now"),
    ("datalake_project_spark.pipeline", "run_pipeline", "pipeline.run_pipeline"),
)


def install(tracer: Tracer, prefix: str = "datalake_project_spark") -> list[tuple]:
    """Wrap every TARGETS function wherever a loaded module of the
    package holds it. Returns the (owner, attribute, original) triples
    that :func:`uninstall` puts back."""
    import importlib

    undo = []
    for mod_name, path, span_name in TARGETS:
        mod = importlib.import_module(mod_name)
        if "." in path:
            cls_name, attr = path.split(".")
            owner = getattr(mod, cls_name)
            orig = owner.__dict__[attr]
            setattr(owner, attr, tracer.wrap(span_name, orig))
            undo.append((owner, attr, orig))
            continue
        orig = getattr(mod, path)
        wrapped = tracer.wrap(span_name, orig)
        for name, m in list(sys.modules.items()):
            if m is None or not (name == prefix or name.startswith(prefix + ".")):
                continue
            for attr, val in list(vars(m).items()):
                if val is orig:
                    setattr(m, attr, wrapped)
                    undo.append((m, attr, orig))
    return undo


def uninstall(undo: list[tuple]) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# -- span arithmetic ---------------------------------------------------------
def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover.
    Children running in parallel threads overlap; their union counts."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append((max(s.start, p.start), min(s.end, p.end)))
    return [max(0.0, (s.end - s.start) - _union([iv for iv in kids.get(i, []) if iv[1] > iv[0]]))
            for i, s in enumerate(spans)]


def coverage(spans: list[Span], root_name: str) -> float:
    """Share of the wall of every ``root_name`` span that the other spans
    of the same op cover."""
    covered = wall = 0.0
    roots = {s.op: s for s in spans if s.name == root_name and s.op is not None}
    by_op: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        r = roots.get(s.op)
        if r is None or s is r:
            continue
        by_op.setdefault(s.op, []).append((max(s.start, r.start), min(s.end, r.end)))
    for op, r in roots.items():
        wall += r.end - r.start
        covered += _union([iv for iv in by_op.get(op, []) if iv[1] > iv[0]])
    return covered / wall if wall > 0 else 0.0


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """name -> {calls, self_s, jobs, tasks} over the spans of timed ops."""
    out: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, self_times(spans)):
        if s.op is None:
            continue
        agg = out.setdefault(s.name, {"calls": 0, "self_s": 0.0, "jobs": 0, "tasks": 0})
        agg["calls"] += 1
        agg["self_s"] += st
        agg["jobs"] += s.jobs
        agg["tasks"] += s.tasks
    return out


# -- Spark event log ---------------------------------------------------------
def event_log_totals(path: str, t_from_ms: float, t_to_ms: float) -> dict[str, float]:
    """Job, task and task-metric totals from a Spark event log, for the
    tasks that finished (and jobs submitted) inside [t_from, t_to].
    ``stream_jobs`` counts the jobs that streaming queries ran."""
    out = {"jobs": 0, "stream_jobs": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0,
           "jvm_gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
           "spill_mb": 0.0}
    mib = 1024.0 * 1024.0
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                if t_from_ms <= ev.get("Submission Time", 0) <= t_to_ms:
                    out["jobs"] += 1
                    if "sql.streaming.queryId" in (ev.get("Properties") or {}):
                        out["stream_jobs"] += 1
                continue
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            if not t_from_ms <= ev["Task Info"]["Finish Time"] <= t_to_ms:
                continue
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                       + rd.get("Local Bytes Read", 0)) / mib
            wr = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / mib
            out["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / mib
    return out

"""Per-layer tracing from outside the package.

Three sources, joined by wall-clock time:

- spans the benchmark records around each query's build, plan and exec
  call, and around every public function of ``etl4s_spark.operators``,
  ``etl4s_spark.sources``, ``etl4s_spark.streaming.core`` and
  ``Node.run*`` (timing wrappers installed before ``load_all()``);
- Spark's own event log (jobs, stages, task metrics);
- streaming progress from a ``StreamingQueryListener``.

A job is attributed to the query execution whose window holds its
submission time (its job group names the phase; stream micro-batch jobs
run on the stream's thread without the group, so they fall back to the
phase window), and to the deepest layer span open at that time. A span's
self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("build", "plan", "exec")
NODE_RUN_METHODS = ("run", "unsafe_run", "run_safe", "run_trace", "run_safe_trace")
TASK_FIELDS = (
    "tasks",
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "output_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    """``start`` and ``end`` are epoch seconds, to place Spark's jobs;
    ``seconds`` is the duration on the monotonic clock."""

    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    depth: int
    execution: int | None
    seconds: float = 0.0


class Tracer:
    """In-memory span recorder. Wrappers record only while ``active``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.execution: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(layer, name, time.time(), 0.0, stack[-1] if stack else None, len(stack), self.execution)
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            s.end = time.time()
            stack.pop()

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(layer, fn.__qualname__):
                return fn(*args, **kwargs)

        return traced


def _function_layer(module: str, name: str) -> str:
    parts = module.split(".")
    if parts[1] == "operators":
        return f"operators.{parts[2]}"
    if parts[1] == "sources":
        return "sources.write" if name.startswith("write") or name == "compact_files" else "sources.read"
    return "streaming"


def install_wrappers(tracer: Tracer) -> int:
    """Wrap the public functions of the traced modules and rebind every
    reference to them in the already-imported package modules, so the
    query modules imported afterwards by ``load_all()`` bind the wrappers.
    Returns the number of wrapped functions."""
    import etl4s_spark.operators
    import etl4s_spark.sources
    from etl4s_spark.core.node import Node

    modules = [importlib.import_module("etl4s_spark.streaming.core")]
    for pkg in (etl4s_spark.operators, etl4s_spark.sources):
        for info in pkgutil.iter_modules(pkg.__path__):
            modules.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
    wrapped = {}
    for mod in modules:
        for name, obj in vars(mod).items():
            if inspect.isfunction(obj) and obj.__module__ == mod.__name__ and not name.startswith("_"):
                wrapped[obj] = tracer.wrap(obj, _function_layer(mod.__name__, name))
    for mname, mod in list(sys.modules.items()):
        if mod is None or not mname.startswith("etl4s_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, name, wrapped[obj])
    for name in NODE_RUN_METHODS:
        setattr(Node, name, tracer.wrap(getattr(Node, name), "core"))
    return len(wrapped) + len(NODE_RUN_METHODS)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamProgress(StreamingQueryListener):
    """Collects query starts and per-micro-batch progress."""

    def __init__(self) -> None:
        self.started: list[float] = []
        self.batches: list[tuple[float, dict[str, int], int]] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(_epoch(event.timestamp))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        state_ms = sum(op.commitTimeMs for op in p.stateOperators)
        self.batches.append((_epoch(p.timestamp), dict(p.durationMs), state_ms))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@dataclass
class Job:
    submitted: float
    group: str | None
    stages: int = 0
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0))


def read_event_log(lines) -> list[Job]:
    """Jobs with their completed-stage count and summed task metrics,
    from the lines of an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if line.startswith('{"Event":"SparkListenerJobStart"'):
            ev = json.loads(line)
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(ev["Submission Time"] / 1000.0, props.get("spark.jobGroup.id"))
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif line.startswith('{"Event":"SparkListenerStageCompleted"'):
            info = json.loads(line)["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None and "Failure Reason" not in info:
                job.stages += 1
        elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
            ev = json.loads(line)
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            c = job.counters
            c["tasks"] += 1
            c["run_ms"] += m["Executor Run Time"]
            c["cpu_ms"] += m["Executor CPU Time"] / 1e6
            c["gc_ms"] += m["JVM GC Time"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
            c["spill_bytes"] += m["Disk Bytes Spilled"]
    return list(jobs.values())


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the durations of its direct children."""
    out = [s.seconds for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.seconds
    return out


def attribute(executions: list[dict], spans: list[Span], jobs: list[Job], streams: StreamProgress) -> list[dict]:
    """Per-execution layer counters for the given query executions, each
    a dict with ``id``, ``start``, ``build_end``, ``plan_end`` and ``end``
    (epoch seconds)."""
    starts = [e["start"] for e in executions]
    by_id = {e["id"]: i for i, e in enumerate(executions)}
    out = [defaultdict(float) for _ in executions]

    def execution_at(t: float) -> int | None:
        i = bisect.bisect_right(starts, t) - 1
        return i if i >= 0 and t <= executions[i]["end"] else None

    selfs = self_times(spans)
    spans_of = defaultdict(list)
    for i, s in enumerate(spans):
        if s.execution in by_id:
            spans_of[by_id[s.execution]].append(i)
            rec = out[by_id[s.execution]]
            rec[f"{s.layer}.s"] += selfs[i]
            # a Node run nested in another (run_safe calls run) is one run
            if s.layer != "core" or not _has_ancestor(spans, i, "core"):
                rec[f"{s.layer}.calls"] += 1

    for job in jobs:
        i = execution_at(job.submitted)
        if i is None:
            continue
        e, rec = executions[i], out[i]
        phase = job.group.rsplit(":", 1)[-1] if job.group and job.group.startswith("perfbench:") else None
        if phase not in PHASES:
            phase = "build" if job.submitted <= e["build_end"] else "plan" if job.submitted <= e["plan_end"] else "exec"
        rec[f"{phase}.jobs"] += 1
        rec[f"{phase}.stages"] += job.stages
        for k, v in job.counters.items():
            rec[f"{phase}.{k}"] += v
        rec["output_bytes"] += job.counters["output_bytes"]
        open_spans = [j for j in spans_of[i] if spans[j].start <= job.submitted <= spans[j].end]
        if open_spans:
            deepest = max(open_spans, key=lambda j: (spans[j].depth, spans[j].start))
            rec[f"{spans[deepest].layer}.jobs"] += 1

    for t in streams.started:
        i = execution_at(t)
        if i is not None:
            out[i]["stream.queries"] += 1
    for t, dur, state_ms in streams.batches:
        i = execution_at(t)
        if i is None:
            continue
        rec = out[i]
        rec["stream.batches"] += 1
        rec["stream.state_commit_ms"] += state_ms
        for key in ("triggerExecution", "addBatch", "walCommit", "commitOffsets", "queryPlanning"):
            rec[f"stream.{key}"] += dur.get(key, 0)
    return [dict(r) for r in out]


def _has_ancestor(spans: list[Span], i: int, layer: str) -> bool:
    p = spans[i].parent
    while p is not None:
        if spans[p].layer == layer:
            return True
        p = spans[p].parent
    return False

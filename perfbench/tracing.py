"""Spans recorded from outside the engine, and the Spark event log they
are joined with.

A span is one call into an engine module: name (`module.function`),
start, end, parent span and request id. Spans live in memory and are
written once, when the run ends. Each span tags the Spark jobs it
starts with its own job group; jobs that arrive without a known group
(e.g. from a `foreachBatch` callback thread) are given to the innermost
span open when they started.

`NullTracer` is what untraced runs use: its spans cost a context
manager and nothing is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    req: int | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # filled by attribute_jobs

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    enabled = False

    def span(self, name: str, req: int | None = None, **attrs):
        return contextlib.nullcontext(None)

    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        pass

    def unwrap_all(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc_provider) -> None:
        self._sc = sc_provider  # callable -> the live SparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, req: int | None = None, **attrs):
        stack = self._stack()
        with self._lock:
            if stack:
                parent = stack[-1]
            else:  # e.g. a foreachBatch callback thread: the newest open span
                open_ = [x for x in self.spans if x.end == 0.0]
                parent = max(open_, key=lambda x: x.start) if open_ else None
            s = Span(len(self.spans), name, time.time(),
                     parent=parent.sid if parent else None,
                     req=req if req is not None else (parent.req if parent else None),
                     attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        sc = self._sc()
        # restore whatever group the thread had: a streaming query's own
        # thread carries its run id, which Spark uses to cancel its jobs
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"pb-{s.sid}")
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Time every call of `module.attr` made through that module
        attribute (the import site the engine calls it by). `before`
        runs ahead of the call with its arguments and returns a token;
        `after(span, token, args, kwargs, result)` runs once it returns."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            token = before(*args, **kwargs) if before else None
            with self.span(name) as s:
                result = orig(*args, **kwargs)
            if after:
                after(s, token, args, kwargs, result)
            return result

        setattr(module, attr, traced)
        self._wrapped.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._wrapped):
            setattr(module, attr, orig)
        self._wrapped.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([
                {"sid": s.sid, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "req": s.req, "attrs": s.attrs,
                 "jobs": [j.jid for j in s.jobs]}
                for s in self.spans
            ], fh)


# ------------------------------------------------------------ event log

@dataclass
class Job:
    jid: int
    start: float
    end: float = 0.0
    group: str | None = None
    stages: list = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    output_bytes: int = 0
    output_records: int = 0
    python_ms: float = 0.0
    to_python: int = 0
    from_python: int = 0
    last_stage_tasks: int = 0
    stages_run: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    written_files: list[tuple[float, int]]  # (SQL execution end, files written)


_PY_TIME = ("time to start Python workers", "time to initialize Python workers",
            "time to run Python workers")


def find_event_log(ev_dir: str, app_id: str) -> str:
    hits = [p for p in glob.glob(os.path.join(ev_dir, "*")) if app_id in os.path.basename(p)]
    if not hits:
        raise FileNotFoundError(f"no event log for {app_id} in {ev_dir}")
    path = hits[0]
    if os.path.isdir(path):  # rolling layout: eventlog_v2_<app>/events_N_<app>
        parts = sorted(glob.glob(os.path.join(path, "events_*")))
        return parts[-1]
    return path


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    stage_tasks: dict[int, int] = {}
    files_acc: set[int] = set()
    exec_files: dict[int, int] = {}
    exec_end: dict[int, float] = {}

    def plan_metrics(node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") == "number of written files":
                files_acc.add(m["accumulatorId"])
        for child in node.get("children", []):
            plan_metrics(child)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                j = Job(e["Job ID"], e["Submission Time"] / 1000.0,
                        group=e.get("Properties", {}).get("spark.jobGroup.id"),
                        stages=list(e.get("Stage IDs", [])))
                jobs[j.jid] = j
                for sid in j.stages:
                    stage_job[sid] = j
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if j is None or not m:
                    continue
                j.tasks += 1
                stage_tasks[e["Stage ID"]] = stage_tasks.get(e["Stage ID"], 0) + 1
                j.run_ms += m.get("Executor Run Time", 0)
                j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                j.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                om = m.get("Output Metrics", {})
                j.output_bytes += om.get("Bytes Written", 0)
                j.output_records += om.get("Records Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                j = stage_job.get(info["Stage ID"])
                if j is None:
                    continue
                for a in info.get("Accumulables", []):
                    name, value = a.get("Name"), a.get("Value")
                    if name in _PY_TIME:
                        j.python_ms += float(value)
                    elif name == "data sent to Python workers":
                        j.to_python += int(value)
                    elif name == "data returned from Python workers":
                        j.from_python += int(value)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plan_metrics(e.get("sparkPlanInfo", {}))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    if acc_id in files_acc:
                        exec_files[e["executionId"]] = exec_files.get(e["executionId"], 0) + int(value)
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                exec_end[e["executionId"]] = e["time"] / 1000.0
    for j in jobs.values():
        ran = [s for s in j.stages if s in stage_tasks]
        j.last_stage_tasks = stage_tasks[max(ran)] if ran else 0
        j.stages_run = len(ran)
        if not j.end:
            j.end = j.start
    written = [(exec_end[x], n) for x, n in exec_files.items() if x in exec_end]
    return EventLog(sorted(jobs.values(), key=lambda j: j.jid), written)


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> list[Job]:
    """Give each job to the span whose group it carries, else to the
    innermost span open when it started. Returns the jobs no span got."""
    by_group = {f"pb-{s.sid}": s for s in spans}
    orphans = []
    for j in jobs:
        s = by_group.get(j.group)
        if s is None:
            open_ = [x for x in spans if x.start <= j.start <= x.end]
            s = max(open_, key=lambda x: x.start) if open_ else None
        if s is None:
            orphans.append(j)
        else:
            s.jobs.append(j)
    return orphans


# ------------------------------------------------------ span arithmetic

def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def subtree_jobs(s: Span, kids: dict[int, list[Span]]) -> list[Job]:
    out = list(s.jobs)
    for c in kids.get(s.sid, ()):
        out.extend(subtree_jobs(c, kids))
    return out


def self_ms(s: Span, kids: dict[int, list[Span]]) -> float:
    """Span wall time not covered by any child span."""
    return s.ms - union_ms([(c.start, c.end) for c in kids.get(s.sid, ())], s.start, s.end)


def gap_ms(s: Span, kids: dict[int, list[Span]]) -> float:
    """Span wall time during which none of its (subtree's) jobs ran:
    driver-side work such as planning, py4j calls and file listing."""
    jobs = subtree_jobs(s, kids)
    return s.ms - union_ms([(j.start, j.end) for j in jobs], s.start, s.end)


def span_table(spans: list[Span]) -> list[dict]:
    """Per span name: calls, total, self and driver-gap ms, jobs, tasks."""
    kids = children(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"name": s.name, "calls": 0, "total_ms": 0.0,
                                     "self_ms": 0.0, "gap_ms": 0.0, "jobs": 0, "tasks": 0})
        r["calls"] += 1
        r["total_ms"] += s.ms
        r["self_ms"] += self_ms(s, kids)
        r["gap_ms"] += gap_ms(s, kids)
        r["jobs"] += len(s.jobs)
        r["tasks"] += sum(j.tasks for j in s.jobs)
    return sorted(rows.values(), key=lambda r: -r["total_ms"])

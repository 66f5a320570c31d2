"""Traced-run tooling: spans around public engine calls, job-group
counts, the Spark event-log fold and self-time computation.

Spans are recorded from the benchmark's side only: ``Tracer.wrap``
replaces a public function or bound method with a timing wrapper for
the duration of the traced run; engine code is not modified. Spans are
kept in memory and written out once at the end (``Tracer.dump``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass


_MISSING = object()


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: int


class Tracer:
    """In-memory span recorder. Parents come from a per-thread stack,
    so a span opened inside another on the same thread is its child."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                stack = tracer._stack()
                with tracer._lock:
                    self.sid = len(tracer.spans)
                    tracer.spans.append(
                        Span(self.sid, name, time.time(), 0.0,
                             stack[-1] if stack else None,
                             threading.get_ident())
                    )
                stack.append(self.sid)
                return self

            def __exit__(self, *exc):
                tracer.spans[self.sid].end = time.time()
                tracer._stack().pop()
                return False

        return _Ctx()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name`` until
        ``unwrap_all``. ``owner`` is a module, class or instance."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        # restore what the owner itself held: a module or instance attribute,
        # or nothing, so the class attribute shows through again
        self._patched.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, timed)

    def unwrap_all(self) -> None:
        for owner, attr, prev in reversed(self._patched):
            if prev is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.sid: (s.end - s.start) - union_length(kids.get(s.sid, []))
        for s in spans
    }


# --- job groups ---------------------------------------------------------


class JobGroups:
    """Tags the jobs of one call with ``setJobGroup`` and counts them
    through ``statusTracker()``. Group ids are unique per call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    def run(self, label: str, fn):
        self.n += 1
        gid = f"bench-{self.n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            out = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return out, len(self.sc.statusTracker().getJobIdsForGroup(gid))


# --- event log fold -----------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a local, uncompressed, unrolled event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": os.path.abspath(log_dir),
    }


@dataclass
class Job:
    jid: int
    submit: float
    end: float
    stages: list[int]


@dataclass
class TaskSums:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


def fold_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, TaskSums]]:
    """Jobs (with wall interval and stages) and per-job task-metric
    sums from every event log file under ``log_dir``. Call after the
    session stopped, when the log is flushed."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    per_job: dict[int, TaskSums] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    stages = list(ev.get("Stage IDs", []))
                    jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0, 0.0, stages)
                    for st in stages:
                        stage_job[st] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    t = per_job.setdefault(jid, TaskSums())
                    t.run_s += m.get("Executor Run Time", 0) / 1000.0
                    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    t.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    t.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return jobs, per_job


def jobs_in(jobs: dict[int, Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside the wall interval [start, end]. With one
    closed-loop client every such job belongs to that operation."""
    return [j for j in jobs.values() if start <= j.submit <= end]


def op_layers(jobs: dict[int, Job], tasks: dict[int, TaskSums],
              start: float, wall: float) -> dict[str, float]:
    """Job, stage and task-metric totals of one operation that ran in
    [start, start + wall], and the wall time outside its jobs."""
    js = jobs_in(jobs, start, start + wall)
    out = {
        "spark.jobs_per_batch": len(js),
        "spark.stages_per_batch": sum(len(j.stages) for j in js),
        "driver.residual_s": wall - union_length(
            [(j.submit, max(j.end, j.submit)) for j in js]
        ),
    }
    for field_name, metric in (
        ("run_s", "spark.task_run_s"),
        ("cpu_s", "spark.task_cpu_s"),
        ("gc_s", "spark.gc_s"),
        ("shuffle_read_bytes", "spark.shuffle_read_bytes"),
        ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
        ("spill_bytes", "spark.spill_bytes"),
        ("input_bytes", "spark.input_bytes"),
    ):
        out[metric] = sum(getattr(tasks[j.jid], field_name) for j in js if j.jid in tasks)
    return out

"""Spans around the benchmark's calls into the program, and the Spark
event log attributed to them.

A span is (id, name, parent, thread, start, end).  Entering a span sets
the calling thread's Spark job group to the span's id; in PySpark's
pinned-thread mode job groups are thread-local, so a job launched from
a client thread lands in that thread's innermost span.  Spans stay in
memory and are written out once, when the run ends.

After the session stops, :func:`read_event_log` folds the uncompressed,
unrolled event log into per-job records (group, submit and completion
time, task metrics), and :func:`attribute` charges each job to its
span.  Self time is a span's duration minus the part of it its child
spans cover; driver gap is a span's duration minus the union of its
jobs' intervals.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans.  With ``spark`` set, each span also owns a Spark
    job group for the calling thread; without it (the untraced runs)
    spans are plain timers."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, stack[-1].id if stack else None,
                 threading.current_thread().name, time.time())
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, f)


def wrap_methods(tracer: Tracer, targets) -> list:
    """Time calls to program functions from the outside: replace each
    ``(owner, attr, span_name)`` with a wrapper that runs the original
    inside a span.  Returns the undo list for :func:`unwrap`.  A
    missing attribute is skipped, so its metric reads 0."""
    undo = []
    for owner, attr, name in targets:
        orig = owner.__dict__.get(attr)
        if orig is None:
            continue
        kind = type(orig)
        fn = orig.__func__ if isinstance(orig, (classmethod, staticmethod)) else orig

        def wrapper(*a, __fn=fn, __name=name, **k):
            with tracer.span(__name):
                return __fn(*a, **k)

        wrapper.__wrapped__ = fn
        setattr(owner, attr, kind(wrapper)
                if kind in (classmethod, staticmethod) else wrapper)
        undo.append((owner, attr, orig))
    return undo


def unwrap(undo) -> None:
    for owner, attr, orig in reversed(undo):
        setattr(owner, attr, orig)


# -- event log ---------------------------------------------------------------

def event_log_conf(directory: str) -> dict:
    """Session settings for a readable event log: one plain JSON-lines
    file, not compressed, not rolled."""
    os.makedirs(directory, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(directory),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


TASK_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def read_event_log(directory: str) -> list[dict]:
    """Jobs of the (single) application log in ``directory``: group,
    submit and end time in epoch seconds, and summed task metrics."""
    logs = [os.path.join(directory, f) for f in os.listdir(directory)
            if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {len(logs)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "group": (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    **{k: 0 for k in TASK_FIELDS}}
                for st in ev.get("Stage IDs", []):
                    stage_job[st] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                j["tasks"] += 1
                j["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                j["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                j["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["job"])


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
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


def attribute(spans: list[Span], jobs: list[dict]) -> dict[int, dict]:
    """Per span id: the jobs whose group is the span or any descendant
    (``jobs`` and the task sums), the union of their intervals
    clipped to the span, the driver gap and the self time."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def top(sid):
        out = [sid]
        stack = [sid]
        while stack:
            for c in children.get(stack.pop(), []):
                out.append(c.id)
                stack.append(c.id)
        return out

    own: dict[int, list[dict]] = {}
    for j in jobs:
        g = j["group"] or ""
        if g.startswith(GROUP_PREFIX):
            own.setdefault(int(g[len(GROUP_PREFIX):]), []).append(j)
    out = {}
    for s in spans:
        js = [j for sid in top(s.id) for j in own.get(sid, [])]
        clipped = [(max(j["submit"], s.start), min(j["end"], s.end))
                   for j in js]
        in_jobs = union_length([(a, b) for a, b in clipped if b > a])
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        out[s.id] = {
            "jobs": len(js),
            **{k: sum(j[k] for j in js) for k in TASK_FIELDS},
            "in_jobs_s": in_jobs,
            "driver_gap_s": max(0.0, s.dur - in_jobs),
            "self_s": max(0.0, s.dur - union_length(kids)),
        }
    return out

"""Span recorder, self-time computation and Spark event-log parser.

Spans are recorded from the benchmark's own files, around the package's
public calls (and around module attributes patched from outside); they
stay in memory and are written out once, at the end of a traced run.
Nothing here is imported by the package.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder: ``(id, name, start, end, parent, key)``.

    ``parent`` is the innermost open span of the same thread; ``key``
    names the request or batch the span belongs to. Times are
    ``time.time()`` seconds so they line up with Spark's event log and
    file modification times.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, key=None):
        return _SpanCtx(self, name, key)

    def add(self, name: str, start: float, end: float, parent=None, key=None, **extra) -> int:
        """Record a span whose bounds were measured elsewhere."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "key": key, **extra}
            )
        return sid

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by its traced wrapper."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr)))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, key):
        self.t, self.name, self.key = tracer, name, key

    def __enter__(self):
        self.extra = {}
        st = self.t._stack()
        self.parent = st[-1] if st else None
        self.id = next(self.t._ids)
        st.append(self.id)
        self.start = time.time()
        return self

    def __exit__(self, exc_type, exc, tb):
        end = time.time()
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(
                {"id": self.id, "name": self.name, "start": self.start,
                 "end": end, "parent": self.parent, "key": self.key,
                 "error": exc_type.__name__ if exc_type else None, **self.extra}
            )
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    covered by its direct children (overlapping children are merged, and
    child intervals are clipped to the parent's)."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], [])
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def parse_event_log(log_dir: str) -> dict:
    """Spark's JSON event log → ``{"jobs": [...], "tasks": {stage: [...]}}``.

    A job carries its submission/completion time (seconds), stage ids and
    whether a streaming query launched it (the micro-batch engine tags
    its jobs with ``streaming.sql.batchId``). A task carries the
    executor metrics the ``spark.*`` per-layer rows sum.
    """
    jobs, tasks = [], defaultdict(list)
    files = sorted(
        os.path.join(log_dir, f) for f in os.listdir(log_dir)
        if not f.startswith(".")
    ) if os.path.isdir(log_dir) else []
    for path in files:
        open_jobs = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": list(ev.get("Stage IDs", [])),
                        "batch": props.get("streaming.sql.batchId"),
                        "app": path,
                    }
                    open_jobs[job["id"]] = job
                    jobs.append(job)
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    tasks[(path, ev["Stage ID"])].append(
                        {
                            "duration_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                            "run_ms": m.get("Executor Run Time", 0),
                            "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "tasks": tasks}


SPARK_FIELDS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill")


def job_totals(log: dict, jobs: list[dict]) -> dict:
    """Task count and summed executor metrics over ``jobs``; a stage
    shared by two jobs is counted once."""
    seen, out = set(), dict.fromkeys(SPARK_FIELDS, 0.0)
    out["tasks"], out["overhead_ms"] = 0, 0.0
    for job in jobs:
        for st in job["stages"]:
            k = (job["app"], st)
            if k in seen:
                continue
            seen.add(k)
            for t in log["tasks"].get(k, []):
                out["tasks"] += 1
                out["overhead_ms"] += max(0, t["duration_ms"] - t["run_ms"])
                for f in SPARK_FIELDS:
                    out[f] += t[f]
    return out


def jobs_in(log: dict, start: float, end: float, streaming: bool) -> list[dict]:
    """Jobs submitted inside ``[start, end]``: only micro-batch jobs
    (``streaming`` True) or only other jobs (False)."""
    return [
        j for j in log["jobs"]
        if start <= j["submit"] <= end and (j["batch"] is not None) == streaming
    ]

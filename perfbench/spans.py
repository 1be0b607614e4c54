"""Span recorder for the traced run, and Spark job accounting.

Spans are recorded from outside the program: :meth:`Recorder.wrap`
replaces a function or method on its owning class or module with a
timing wrapper for the length of the traced run and :meth:`Recorder.unwrap_all`
puts the originals back. Each span holds ``(name, start, end, parent,
request)``. The load is a closed loop with one client, so a span opened
on a gRPC server thread with no open span of its own belongs to the one
request in flight: its parent is the span the client thread is blocked
in.

Spans stay in memory; :func:`self_times` turns them into per-layer self
time once the run ends.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._request: int | None = None
        self._request_root: int | None = None
        self._client_stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------- #

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> tuple[int, int | None]:
        with self._lock:
            sid = self._next
            self._next += 1
        st = self._stack()
        # a span on a thread with no open span of its own (a gRPC server
        # thread, a client stream reader) is caused by whatever the
        # request's client thread is blocked in
        cs = self._client_stack
        parent = st[-1] if st else (cs[-1] if cs else self._request_root)
        st.append(sid)
        return sid, parent

    def _close(self, sid: int, name: str, start: float, parent: int | None) -> None:
        end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()
        with self._lock:
            self.spans.append(Span(sid, name, start, end, parent, self._request))

    def begin_request(self, request: int, name: str) -> int:
        """Open the root span of one client request."""
        self._request = request
        sid, _ = self._open(name)
        self._request_root = sid
        self._client_stack = self._stack()
        self._local.root_start = time.perf_counter()
        return sid

    def end_request(self, sid: int, name: str) -> None:
        self._close(sid, name, self._local.root_start, None)
        self._client_stack = []
        self._request_root = None
        self._request = None

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    # -- wrapping ---------------------------------------------------- #

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Time every call of ``owner.attr`` as span ``name``. ``after``
        (optional) is called as ``after(recorder, args, kwargs, result)``
        to record counts taken from the call."""
        func = getattr(owner, attr)
        rec = self

        def wrapper(*args, **kwargs):
            sid, parent = rec._open(name)
            start = time.perf_counter()
            try:
                result = func(*args, **kwargs)
            finally:
                rec._close(sid, name, start, parent)
            if after is not None:
                after(rec, args, kwargs, result)
            return result

        wrapper.__wrapped__ = func
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, func))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- summaries --------------------------------------------------- #

    def totals(self, name: str) -> tuple[int, float]:
        """(calls, total ms) over spans named ``name``."""
        d = [s.end - s.start for s in self.spans if s.name == name]
        return len(d), 1000.0 * sum(d)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (children clipped to the
    parent's interval; overlapping children count once)."""
    by_id = {s.sid: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            children.setdefault(p.sid, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    return {
        s.sid: (s.end - s.start) - union_length(children.get(s.sid, []))
        for s in spans
    }


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    """Layer (first component of the span name) -> total self ms."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        key = s.name.split(".", 1)[0]
        out[key] = out.get(key, 0.0) + 1000.0 * st[s.sid]
    return out


class SparkJobs:
    """Jobs, stages, tasks and times from the Spark status store (it is
    populated with the UI off). :meth:`since` returns what completed
    after the previous call."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._max_job_id()

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def since(self, settle_s: float = 2.0) -> dict:
        """Stats of jobs newer than the last call. Waits up to
        ``settle_s`` for the listener bus to record their completion."""
        deadline = time.perf_counter() + settle_s
        while True:
            jobs = self._store.jobsList(None)
            new = [jobs.apply(i) for i in range(jobs.size())]
            new = [j for j in new if j.jobId() > self._seen]
            if all(j.completionTime().isDefined() for j in new) or time.perf_counter() > deadline:
                break
            time.sleep(0.02)
        intervals, stages, tasks, run_ms = [], 0, 0, 0.0
        for j in new:
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0)
                )
            tasks += j.numTasks()
            ids = j.stageIds()
            for k in range(ids.size()):
                stages += 1
                try:
                    run_ms += self._store.lastStageAttempt(ids.apply(k)).executorRunTime()
                except Py4JJavaError:  # a skipped stage has no attempt
                    pass
        if new:
            self._seen = max(j.jobId() for j in new)
        return {
            "jobs": len(new),
            "stages": stages,
            "tasks": tasks,
            "job_span_ms": 1000.0 * union_length(intervals),
            "executor_run_ms": run_ms,
        }

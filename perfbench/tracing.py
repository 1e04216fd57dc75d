"""Span tracing from outside the package (``--trace 1`` only).

:class:`Tracer` wraps public functions of the measured layers by
replacing the module (or class) attribute the package itself looks up at
call time, records one span per call (name, start, end, parent span,
operation id) in memory, and restores every attribute on :meth:`close`.
Spark is lazy: a span around a plan-building function covers planning
only, and execution is charged to the span of the action that runs it
(``writers.*``, ``slack.*``, ``query.exec``, ...).

:func:`spark_job_counts` reads jobs, stages and tasks of one operation's
job group from ``SparkContext.statusTracker()``.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass

PROBE_CALLS = 20000  # calls timed to measure one wrapper's cost


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.written_paths: list[str] = []

    # -- recording -------------------------------------------------------
    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack.pop()

    # -- wrapping --------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a recording wrapper. ``on_call`` sees
        the call's arguments (before the call, outside the span)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            if on_call is not None:
                on_call(tracer, args, kwargs)
            sid = tracer._open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._close(sid)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def call_cost(self) -> float:
        """Seconds a recording wrapper adds to one call, measured on
        ``PROBE_CALLS`` calls of a no-op function."""

        class Probe:
            @staticmethod
            def f():
                return None

        t0 = time.perf_counter()
        for _ in range(PROBE_CALLS):
            Probe.f()
        plain = time.perf_counter() - t0
        self.wrap(Probe, "f", "probe")
        state = (self.active, self.op, len(self.spans), list(self._stack))
        self.active, self.op = True, None
        t0 = time.perf_counter()
        for _ in range(PROBE_CALLS):
            Probe.f()
        wrapped = time.perf_counter() - t0
        self.active, self.op, kept, self._stack = state
        del self.spans[kept:]
        self._patched.pop()
        return max(0.0, (wrapped - plain) / PROBE_CALLS)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis --------------------------------------------------------
    def self_times(self, op: int) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct child
        spans cover (children of one span never overlap: one thread)."""
        spans = [s for s in self.spans if s.op == op]
        child_time: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            own = (s.end - s.start) - child_time.get(s.sid, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.sid = tracer, name, None

    def __enter__(self):
        if self.tracer.active:
            self.sid = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.tracer._close(self.sid)
        return False


def spark_job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) run under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), stages, tasks

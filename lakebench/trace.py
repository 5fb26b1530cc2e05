"""Span tracing from outside the program.

The traced run wraps the public functions of each module (the layers) from
the benchmark process; the package itself is not instrumented.  Each span
records its name, start, end, parent span and the timed operation (cycle or
query) it belongs to, plus the Spark jobs, stages and tasks launched under
it: every span runs its calls under its own Spark job group, and the counts
are read back from ``SparkContext.statusTracker()`` when the span ends.
Spans stay in memory and are written out when the run ends.

``self_times`` is the arithmetic the report rests on: a span's self time is
its duration minus the part of its interval that its direct children cover
(children may overlap one another and may stick out of the parent).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None  # cycle / query id, None outside the timed phase
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Collects spans; ``wrap`` patches a function or method to open one.

    ``sc`` is the SparkContext whose status tracker supplies job counts,
    set once the session exists (None: no Spark counts).  ``overhead_s``
    accumulates the tracer's own bookkeeping time, so the report can state
    what tracing cost."""

    def __init__(self):
        self.sc = None
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0
        self.op: str | None = None
        self._stack: list[Span] = []

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"lakebench-{span.id}", span.name)

    def _spark_counts(self, span: Span) -> None:
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(f"lakebench-{span.id}"):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            span.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    span.stages += 1
                    span.tasks += st.numTasks

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._spark_counts(s)
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, owner, attr: str, name: str, after=None, before=None) -> None:
        """Patch ``owner.attr`` so each call runs inside span ``name``.

        ``before(args, kwargs)`` runs first and its result is handed to
        ``after(tracer, result, args, kwargs, before_result)``, which runs
        once the call returns; both may look at state to record counts and
        their time is booked as tracing overhead."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            token = before(args, kwargs) if before is not None else None
            self.overhead_s += time.perf_counter() - t0
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(self, out, args, kwargs, token)
                self.overhead_s += time.perf_counter() - t0
            return out

        setattr(owner, attr, traced)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

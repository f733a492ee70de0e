"""Spans around calls into the engine's public functions.

Each span runs its calls under a Spark job group of its own. When the span
ends, the jobs of that group are looked up in the status store, and their
stages give jobs, stages, tasks, executor CPU and GC time, shuffle bytes,
spill, and the wall time covered by stages. A parent span adds up its
children's figures, so every span reports its whole subtree.

``driver_gap_s`` is a span's wall time minus the part of it covered by Spark
stages: file commit, listing and driver-side planning land there.
``self_s`` is a span's wall time minus the part covered by its child spans.

Spans stay in memory and are written out once, when the run ends.
``NullTracer`` has the same interface and records nothing; the untraced
(end-to-end) runs use it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "cpu_s",
    "gc_s",
    "executor_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    stage_intervals: list = field(default_factory=list)
    child_intervals: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def driver_gap_s(self) -> float:
        return self.wall_s - union_length(self.stage_intervals, self.start, self.end)

    @property
    def self_s(self) -> float:
        return self.wall_s - union_length(self.child_intervals, self.start, self.end)

    def record(self, run_id: str) -> dict:
        return {
            "run": run_id,
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "wall_s": self.wall_s,
            "self_s": self.self_s,
            "driver_gap_s": self.driver_gap_s,
            **self.counts,
            **self.attrs,
        }


class NullTracer:
    overhead_s = 0.0

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, owner, attr: str, name: str, probe=None) -> None:
        pass

    def unwrap_all(self) -> None:
        pass

    def records(self) -> list[dict]:
        return []


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._wrapped: list[tuple[object, str, object]] = []

    def _group(self, span: Span) -> str:
        return f"perfbench-{self.run_id}-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None)
        self.sc.setJobGroup(self._group(sp), name)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc._jsc.clearJobGroup()
            self._collect(sp)
            if parent is not None:
                for k in COUNTERS:
                    parent.counts[k] += sp.counts[k]
                parent.stage_intervals += sp.stage_intervals
                parent.child_intervals.append((sp.start, sp.end))
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t1

    def _collect(self, sp: Span) -> None:
        """Add the jobs and stages of the span's own job group to its counts."""
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        c = sp.counts
        for job_id in tracker.getJobIdsForGroup(self._group(sp)):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            c["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never attempted, or evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["executor_s"] += st.executorRunTime() / 1e3
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    sp.stage_intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))

    def wrap(self, owner, attr: str, name: str, probe=None) -> None:
        """Replace ``owner.attr`` by a function that runs it inside a span
        named ``name``. ``probe(args, kwargs)``, if given, runs before the
        call and returns a function that gets the span after the call, to
        attach what the probe measured (its cost counts as overhead)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                t0 = time.perf_counter()
                finish = probe(args, kwargs) if probe else None
                self.overhead_s += time.perf_counter() - t0
                out = original(*args, **kwargs)
                if finish:
                    t0 = time.perf_counter()
                    finish(sp)
                    self.overhead_s += time.perf_counter() - t0
                return out

        self._wrapped.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._wrapped):
            setattr(owner, attr, original)
        self._wrapped.clear()

    def records(self) -> list[dict]:
        return [s.record(self.run_id) for s in sorted(self.spans, key=lambda s: s.id)]


def parquet_files(path: str) -> dict[str, int]:
    """``{relative path: size}`` of the parquet files under ``path``."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def dirs_under(path: str) -> set[str]:
    return {os.path.relpath(r, path) for r, _d, _f in os.walk(path)}

"""Nested spans around the engine's public calls, for the traced run.

A span is opened by the benchmark's own code (``Tracer.span``) or by a
wrapper that ``Tracer.patch`` installs over a public function or method
for the duration of one run. Spans live in memory; ``Tracer.table``
turns them into per-layer numbers once the run is over.

Spark work is attributed with one job group per span instance: the
innermost open span's group is the thread's job group, so every job a
call triggers lands in exactly that span. Stage numbers come from the
application status store at the end of the run. Diffing the ids of
``getJobIdsForGroup(None)`` instead is wrong because Spark forgets old
jobs, which makes such differences negative.

Work the tracer does itself (reading commit files to count rows,
listing a read's files) runs after the wrapped call has returned and is
subtracted from the enclosing span's self time, so self times stay a
partition of the traced wall time; ``bookkeeping_s`` reports it.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

SPARK_STATS = ("jobs", "stages", "tasks", "input_rows",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    excluded: float = 0.0    # tracer bookkeeping inside this span


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its children (overlapping children count once) and minus the tracer
    bookkeeping recorded on it."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, run_start, run_end = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end))
                             for c in kids[s.sid]):
            if hi <= lo:
                continue
            if run_end is None or lo > run_end:
                if run_end is not None:
                    covered += run_end - run_start
                run_start, run_end = lo, hi
            else:
                run_end = max(run_end, hi)
        if run_end is not None:
            covered += run_end - run_start
        out[s.sid] = max(0.0, s.end - s.start - covered - s.excluded)
    return out


class Tracer:
    """Spans of one benchmark run, recorded on the thread that made it.

    Calls made on other threads (a streaming sink's callback) pass
    through untraced: their time is inside the caller's span already."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._grouped: dict[int, bool] = {}
        self._thread = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self._paused = False

    def _set_group(self) -> None:
        for s in reversed(self._stack):
            if self._grouped[s.sid]:
                self.sc.setJobGroup(f"perfbench-{s.sid}", s.name)
                return
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        """Open a span; ``spark_jobs=False`` for calls that never run a
        Spark job (their jobs would be none, and switching the job group
        costs two JVM round trips)."""
        if self._paused or threading.get_ident() != self._thread:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._grouped[sp.sid] = spark_jobs
        if spark_jobs:
            self._set_group()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if spark_jobs:
                self._set_group()

    def count(self, key: str, value: float) -> None:
        self.counters[key] += value

    @contextlib.contextmanager
    def bookkeeping(self):
        """Tracer-side work: untraced, and taken out of the enclosing
        span's self time."""
        t0 = time.perf_counter()
        self._paused = True
        try:
            yield
        finally:
            self._paused = False
            dt = time.perf_counter() - t0
            self.bookkeeping_s += dt
            if self._stack:
                self._stack[-1].excluded += dt

    def patch(self, owner, attr: str, name, after=None,
              spark_jobs: bool = True) -> None:
        """Wrap ``owner.attr`` in a span until :meth:`restore`. ``name``
        is a string or a function of the call's arguments; ``after(tracer,
        args, kwargs, result)`` records counters as bookkeeping."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label, spark_jobs) as sp:
                out = orig(*args, **kwargs)
            if after is not None and sp is not None:
                with self.bookkeeping():
                    after(self, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if threading.get_ident() == self._thread:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _spark_stats(self, sid: int) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(SPARK_STATS, 0)
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(f"perfbench-{sid}"):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for stage in (info.stageIds if info else ()):
                if stage in seen:
                    continue
                seen.add(stage)
                sd = store.lastStageAttempt(stage)
                if sd.status().toString() != "COMPLETE":
                    continue           # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["input_rows"] += sd.inputRecords()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
        return out

    def table(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total_s, self_s and the Spark stats of
        the jobs run while it was the innermost span."""
        try:   # let the status store catch up with the last jobs
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 — private API; settle by waiting
            time.sleep(2)
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"calls": 0, "total_s": 0.0,
                                          "self_s": 0.0,
                                          **dict.fromkeys(SPARK_STATS, 0)})
            row["calls"] += 1
            row["total_s"] += s.end - s.start
            row["self_s"] += selfs[s.sid]
            if self._grouped[s.sid]:
                for k, v in self._spark_stats(s.sid).items():
                    row[k] += v
        return out

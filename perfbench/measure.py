"""Measurement helpers: percentiles, the error rate, process memory and
the span tracer.  Spark-free, so the arithmetic is testable without a
session; the tracer takes the SparkContext only when tracing is on.
"""

from __future__ import annotations

import itertools
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """Linear interpolation between closest ranks (NumPy's default), for
    ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values) -> float:
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def error_rate(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("error_rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(*pids: int) -> float:
    """Summed peak RSS (VmHWM) of this process and ``pids``."""
    return sum(_vm_hwm_kb(p) for p in {os.getpid(), *pids}) / 1024.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: int = 0
    tasks: int = 0


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into the program.

    Off (``sc is None``), ``span`` only yields ``None``.  On, every span
    records name, start, end and parent; a span opened with
    ``jobs=True`` also tags the Spark jobs it starts with its own job
    group so ``collect_jobs`` can count them from the status tracker
    afterwards.  ``overhead_s`` accumulates the time spent in the
    tracer's own bookkeeping, including the job-count queries."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))

    @property
    def on(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, parent: Span | None = None, jobs: bool = False):
        if not self.on:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(next(self._ids), name, parent.id if parent else None, 0.0)
        if jobs:
            sp.group = f"bench-{sp.id}"
            self.sc.setJobGroup(sp.group, name)
        self.spans.append(sp)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - sp.end

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed."""
        if self.on:
            self.spans.append(Span(next(self._ids), name, None, start, end))

    def collect_jobs(self) -> None:
        """Fill each job-grouped span's Spark job and task counts."""
        if not self.on:
            return
        t0 = time.perf_counter()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.group is None:
                continue
            ids = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(ids)
            for j in ids:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    sp.tasks += st.numTasks if st else 0
        self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it that its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in self.spans:
            covered, cursor = 0.0, sp.start
            for c in sorted(kids.get(sp.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, sp.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - covered
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def to_json(self) -> list[dict]:
        return [sp.__dict__ for sp in self.spans]

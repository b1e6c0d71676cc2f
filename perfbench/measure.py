"""Measurement helpers shared by the workloads: order statistics, the
live-round latency attribution, resident-memory sampling, in-memory
spans and Spark job/task counts per job group."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``beyond`` samples above it:
    (percentile, value, sample count), or None when the sample is too
    small to support any percentile above the median."""
    n = len(xs)
    k = n - beyond - 1  # 0-based rank of the value with `beyond` above it
    if k < 0 or (k + 1) / n <= 0.5:
        return None
    return 100.0 * (k + 1) / n, sorted(xs)[k], n


def drift(xs: list[float]) -> float | None:
    """Median of the second half of a series over that of the first half;
    1.0 means no drift across repeats. None below two samples."""
    if len(xs) < 2:
        return None
    h = len(xs) // 2
    return median(xs[-h:]) / median(xs[:h])


def covering_commit(round_cum_ticks: list[int], commit_ticks: list[int]) -> list[int | None]:
    """For each live round, the index of the first commit whose cumulative
    ``ticks_processed`` covers every tick up to and including that round;
    None when no commit does. A round's latency runs from its scheduled
    arrival to that commit."""
    out: list[int | None] = []
    j = 0
    for need in round_cum_ticks:
        while j < len(commit_ticks) and commit_ticks[j] < need:
            j += 1
        out.append(j if j < len(commit_ticks) else None)
    return out


def cpu_jiffies() -> list[int]:
    """Machine-wide CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: timings taken while it is high are not comparable."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out


class RssSampler:
    """Peak resident memory of this process plus its children (the JVM
    that PySpark launches), sampled from /proc on a daemon thread."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in [me, *_descendants(me)]))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(5)

    def __exit__(self, *exc) -> None:
        self.stop()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """Spans kept in memory, written out once when the run ends. With
    ``enabled`` False every call is a no-op, so untraced runs pay nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, time.perf_counter(), parent))

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed elsewhere (callbacks, consumer sinks)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end, None))

    def dump(self, path: Path) -> None:
        spans = sorted(self.spans, key=lambda s: s.id)
        path.write_text(json.dumps([s.__dict__ for s in spans]))


def group_jobs_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from the status
    tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks

"""What the runner hands a workload and what the workload hands back."""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from pathlib import Path

from measure import RssSampler, Tracer, cpu_jiffies, steal_share


@dataclass
class Ctx:
    """What a workload gets: its seed, run length, a private work
    directory inside the checkout, the tracer, and the Spark session it
    starts through ``start_spark``."""

    seed: int
    seconds: float
    work: Path
    tracer: Tracer
    rss: RssSampler | None = None
    spark: object = None
    session_start_s: float = 0.0
    steal: float | None = None
    _jiffies: list[int] = field(default_factory=list)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def begin_timed_region(self) -> None:
        self._jiffies = cpu_jiffies()

    def end_timed_region(self) -> None:
        """Stop memory sampling: the output checks that follow are the
        benchmark's own work, not the engine's. Record the machine's steal
        share over the timed region."""
        if self.rss is not None:
            self.rss.stop()
        if self._jiffies:
            self.steal = steal_share(self._jiffies, cpu_jiffies())

    def start_spark(self):
        from tickdatapipeline_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


@dataclass
class Outcome:
    """A workload's figures: end-to-end metrics (``setup_s`` included;
    run.py adds ``peak_rss_mb``), per-layer metrics of a traced run,
    operation counts, output-check mismatches and extra report lines."""

    metrics: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    mismatches: list[str] = field(default_factory=list)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

"""What a workload gets from the worker, and what it hands back."""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.tracing import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    inputs: str  # generated inputs (read only)
    work: str  # scratch for tables the workload writes
    smoke: bool = False  # tiny sizes, for the benchmark's own tests

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds


@dataclass
class Outcome:
    """A workload's raw measurements; the worker turns them into metrics."""

    attempted: int = 0
    failed: int = 0
    items: int = 0  # rows / query invocations / documents processed
    items_s: float = 0.0  # wall seconds spent on those items
    # call name (review read, query, top-k batch) -> its latencies
    first: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    repeat: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    errors: list[str] = field(default_factory=list)
    counters: dict = field(default_factory=dict)  # per-layer counts

    def check(self, ok: bool, what: str) -> None:
        """Count one output check as an operation; a failed check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def job_watermark(spark) -> int:
    """One past the highest Spark job id the status tracker has seen."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) + 1 if ids else 0


def persisted_rdds(spark) -> int:
    """Count of RDDs the JVM still holds persisted."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()

"""Pure helpers for the benchmark's numbers: percentiles, failure
accounting and metric naming. Nothing here touches Spark, so the unit tests
in ``test_perfbench.py`` cover it without a session."""

from __future__ import annotations

import math
import re
import statistics
from dataclasses import dataclass, field

#: Metric names as BENCHMARK.json accepts them.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: A tail percentile needs this many samples strictly beyond it.
TAIL_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    return METRIC_NAME.fullmatch(name) is not None


def percentile(values: list[float], q: float) -> float:
    """The q-th percentile (0-100) with linear interpolation between order
    statistics, as ``numpy.percentile`` computes it by default."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The percentile to report as the latency tail for ``n`` samples: p90
    when at least ``TAIL_BEYOND`` samples lie beyond it, otherwise the
    highest percentile that has that many beyond it, and never below the
    median (with fewer than 21 samples no percentile above the median has
    ten samples beyond it, so the tail is the median)."""
    if n < 2 * TAIL_BEYOND + 1:
        return 50.0
    # the order statistic at index n-1-TAIL_BEYOND has TAIL_BEYOND above it
    return min(90.0, 100.0 * (n - 1 - TAIL_BEYOND) / (n - 1))


@dataclass
class Latency:
    """Median and tail of one set of latency samples, with its count."""

    n: int
    p50: float
    tail_q: float
    tail: float

    @classmethod
    def of(cls, samples: list[float]) -> Latency:
        q = tail_percentile(len(samples))
        return cls(len(samples), statistics.median(samples), q, percentile(samples, q))


@dataclass
class Outcomes:
    """Operations attempted, and those that raised or returned a wrong result.

    ``error_rate`` counts both kinds against the attempts; a wrong result is
    as much a failure to the user as an exception."""

    attempted: int = 0
    raised: int = 0
    wrong: int = 0
    notes: list[str] = field(default_factory=list)

    def record(self, *, raised: bool = False, wrong: bool = False, note: str = "") -> None:
        self.attempted += 1
        self.raised += int(raised)
        self.wrong += int(wrong and not raised)
        if note:
            self.notes.append(note)

    def mark_wrong(self, note: str) -> None:
        """A check made after the timed region found a completed operation's
        result wrong."""
        self.wrong += 1
        self.notes.append(note)

    @property
    def failed(self) -> int:
        return self.raised + self.wrong

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover.
    Children are clipped to the parent, and overlapping children (concurrent
    calls) are counted once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)

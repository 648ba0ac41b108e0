"""Summary statistics and op accounting for the benchmark.

Kept free of Spark so the unit tests exercise it directly.
"""

from __future__ import annotations

import math
import statistics
import traceback
from dataclasses import dataclass, field

# Percentiles the benchmark may report, lowest first.
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def supported_percentile(n: int) -> float | None:
    """The highest of :data:`PERCENTILES` that leaves at least
    :data:`TAIL_SAMPLES` samples beyond it, or None when even the
    median does not."""
    best = None
    for p in PERCENTILES:
        if n * (100.0 - p) / 100.0 >= TAIL_SAMPLES:
            best = p
    return best


def median_of_kinds(by_kind: dict[str, list[float]]) -> float:
    """Median over op kinds of each kind's median latency.

    Each workload runs its kinds in equal shares (alternating dashboard
    requests, whole registry passes). A pooled median of such a mix
    falls in the gap between the kinds' latency bands and hops across it
    with the sample count; this one sits between the bands and moves
    when any kind slows. With one kind it is the plain median."""
    return statistics.median(statistics.median(v) for v in by_kind.values())


def half_ratio(values: list[float]) -> float:
    """Median of the first half over median of the second half, in
    run order; 1.0 means the window was stationary."""
    if len(values) < 2:
        return 1.0
    mid = len(values) // 2
    return statistics.median(values[:mid]) / statistics.median(values[mid:])


def is_flat(values: list[float], window: int, tolerance: float) -> bool:
    """True when the medians of the last two ``window``-sized runs of
    ``values`` differ by at most ``tolerance`` (a share)."""
    if len(values) < 2 * window:
        return False
    older = statistics.median(values[-2 * window : -window])
    newer = statistics.median(values[-window:])
    return abs(older / newer - 1.0) <= tolerance


@dataclass
class Ledger:
    """Counts ops attempted and failed, and keeps the latency of every
    op that completed with a correct result.

    An op fails when it raises or when its result check returns an
    error message; a failed op contributes no latency sample.
    """

    attempted: int = 0
    failed: int = 0
    latencies_s: list[float] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def record(self, seconds: float, error: str | None) -> None:
        self.attempted += 1
        if error is None:
            self.latencies_s.append(seconds)
        else:
            self.failed += 1
            self.errors.append(error)

    def record_exception(self, exc: BaseException) -> None:
        self.record(
            0.0,
            "".join(traceback.format_exception_only(type(exc), exc)).strip(),
        )


def cpu_times(path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, total) jiffies of all CPUs since boot, from the
    aggregate ``cpu`` line of ``/proc/stat``; None where it cannot be
    read. Steal is time the hypervisor gave this VM's CPUs to others."""
    try:
        with open(path, encoding="ascii") as f:
            fields = f.readline().split()
    except OSError:
        return None
    if len(fields) < 9 or fields[0] != "cpu":
        return None
    # user nice system idle iowait irq softirq steal; guest time is
    # already counted in user and nice
    ticks = [int(x) for x in fields[1:9]]
    return ticks[7], sum(ticks)


def steal_share(
    before: tuple[int, int] | None, after: tuple[int, int] | None
) -> float | None:
    """Share of CPU time stolen between two :func:`cpu_times` reads."""
    if before is None or after is None or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


def format_share(share: float | None) -> str:
    return "n/a" if share is None else f"{100.0 * share:.1f}%"

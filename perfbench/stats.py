"""Sample statistics and failure accounting for the benchmark (stdlib only)."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie
# strictly above it, so that one outlier cannot be the reported value.
MIN_SAMPLES_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Number of samples ranked above the q-th percentile of n samples
    (nearest-rank definition: the percentile is sample ceil(q/100 * n))."""
    if n <= 0:
        return 0
    return n - max(1, math.ceil(q / 100.0 * n))


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile, or None when fewer than
    ``MIN_SAMPLES_BEYOND`` samples lie beyond it."""
    n = len(values)
    if samples_beyond(n, q) < MIN_SAMPLES_BEYOND:
        return None
    return sorted(values)[max(1, math.ceil(q / 100.0 * n)) - 1]


def median(values: list[float]) -> float:
    """Median, or 0.0 for no samples (a layer the workload never ran)."""
    return statistics.median(values) if values else 0.0


class OpLedger:
    """Counts operations attempted and failed during one benchmark run.

    An operation is one timed call or one correctness check. It fails
    when it raises, returns a wrong result, or (for a timed registry
    call) starts no Spark job, which means it was served from a cache.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}" if why else name)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def success_rate(self) -> float:
        return 1.0 - self.error_rate

"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

CANDIDATE_PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def _rank(n: int, p: float) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ten samples beyond
    it, or None when not even the lowest candidate qualifies."""
    ok = [p for p in CANDIDATE_PERCENTILES if beyond(n, p) >= 10]
    return max(ok) if ok else None


def summarize(values: Sequence[float]) -> dict:
    """Median, the tail percentile the sample supports, and the count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
        tp = tail_percentile(len(values))
        if tp is not None:
            out["tail_p"] = tp
            out["tail"] = percentile(values, tp)
    return out


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread measure."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


class Outcomes:
    """Counts attempted and failed operations.  An operation fails when it
    raises or when its output check fails; each is counted once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {why}" if why else name)

    @property
    def error_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

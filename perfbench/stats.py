"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

# Percentiles the benchmark may report, lowest first.
LADDER = (50.0, 90.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (the "inclusive" method
    of ``statistics.quantiles``, defined for one sample too)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile in LADDER with at least MIN_BEYOND of
    ``n`` samples above it, or None when even the median has fewer."""
    best = None
    for p in LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            best = p
    return best


def summary(samples: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    p = tail_percentile(len(samples))
    if p is not None and p > 50.0:
        out["tail_pct"] = p
        out["tail"] = percentile(samples, p)
    return out

"""Summary statistics for latency samples."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(samples, q: float) -> float:
    """The q-th percentile (0-100), linear between closest ranks."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(samples) -> tuple[float | None, float | None]:
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND
    samples beyond it, as ``(q, value)``; ``(None, None)`` when even the
    lowest rung has too few samples."""
    n = len(samples)
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= MIN_BEYOND - 1e-9:
            return q, percentile(samples, q)
    return None, None


def summary(samples) -> dict:
    """Median, the tail percentile chosen by :func:`tail`, the sample
    count, and p90 (reported even when fewer than MIN_BEYOND samples
    lie beyond it; ``p90_ok`` says whether the rule admits it)."""
    xs = list(samples)
    if not xs:
        return {"n": 0}
    q, v = tail(xs)
    return {
        "n": len(xs),
        "p50": statistics.median(xs),
        "p90": percentile(xs, 90.0),
        "p90_ok": len(xs) * 0.1 >= MIN_BEYOND,
        "tail_q": q,
        "tail": v,
        "max": max(xs),
    }


def p50_or_zero(samples) -> float:
    """Median, or 0.0 for a layer with no samples in this workload."""
    xs = list(samples)
    return statistics.median(xs) if xs else 0.0

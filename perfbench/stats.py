"""Timing summaries: a median plus p90, with the sample count.

p90 is reported only when at least ten samples lie beyond it, i.e. from 100
samples on; below that a p90 is one or two samples and says nothing stable.
"""

from __future__ import annotations

import statistics

#: samples that must lie above a percentile before it is reported
MIN_TAIL = 10


def percentile(samples: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``samples``."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def has_tail(n: int, q: float) -> bool:
    """True when ``n`` samples put at least ``MIN_TAIL`` beyond the q-th percentile."""
    return n * (100.0 - q) / 100.0 >= MIN_TAIL


def summarize(samples: list[float]) -> dict:
    """``{"n", "p50"}`` plus ``"p90"`` when the sample supports it."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    if has_tail(len(samples), 90):
        out["p90"] = percentile(samples, 90)
    return out

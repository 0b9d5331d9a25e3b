"""Percentiles that refuse to report a tail the samples cannot support."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (linear interpolation between closest ranks).

    A tail percentile (above the median) needs at least ``MIN_BEYOND``
    samples beyond it; with fewer it raises ``ValueError`` instead of
    reporting a number that is really the maximum."""
    if not values:
        raise ValueError("no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    n = len(values)
    beyond = n * (100 - p) / 100
    if p > 50 and beyond < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} of {n} samples has {beyond:.1f} beyond it; need {MIN_BEYOND}"
        )
    s = sorted(values)
    x = (n - 1) * p / 100
    lo = int(x)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def summary(values: list[float], name: str, unit: str) -> dict:
    """Median plus every standard tail percentile the sample count supports,
    with the count."""
    out = {"name": name, "unit": unit, "n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    for p in (75, 90, 99):
        try:
            out[f"p{p}"] = percentile(values, p)
        except ValueError:
            break
    return out

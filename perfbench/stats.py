"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

# Candidate percentiles, highest first; a percentile is reported only when
# at least MIN_BEYOND samples lie above it.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def highest_supported_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest p in PERCENTILES with at least MIN_BEYOND
    samples strictly beyond its rank, or None when the sample is too small
    for any of them (fewer than 2 × MIN_BEYOND samples)."""
    n = len(values)
    s = sorted(values)
    for p in PERCENTILES:
        rank = int(n * p / 100.0)  # samples at or below the percentile
        if rank >= 1 and n - rank >= MIN_BEYOND:
            return p, s[rank - 1]
    return None


def summarize(values: list[float]) -> dict:
    """Median, the highest supported percentile, and the sample count."""
    out = {"median": median(values), "n": len(values)}
    hp = highest_supported_percentile(values)
    if hp is not None:
        out["p"], out["p_value"] = hp
    return out

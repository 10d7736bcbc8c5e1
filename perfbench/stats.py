"""Summary arithmetic for op latencies (no Spark, no numpy)."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def tail_percentile(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples above
    it: returns (percentile, value, samples beyond). Nearest-rank on
    the sorted samples; the percentile is a whole number, so it moves
    smoothly as the sample count changes."""
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        raise ValueError(f"need more than {min_beyond} samples")
    pct = math.floor(100 * (n - min_beyond) / n)
    rank = max(1, math.ceil(pct * n / 100))
    return float(pct), xs[rank - 1], n - rank


def tail_latency(latencies: dict[str, list[float]], min_beyond: int = MIN_BEYOND) -> tuple[str, float]:
    """The tail of a run's op latencies: (what it is, value). From
    ``10 * min_beyond`` samples on, ``tail_percentile``; below that
    the percentile would sit under p90, which is no tail, and the
    slowest op type's median latency stands in, a statistic that does
    not swing with the sample count the way the maximum does."""
    xs = [v for vs in latencies.values() for v in vs]
    if len(xs) >= 10 * min_beyond:
        pct, value, beyond = tail_percentile(xs, min_beyond)
        return f"p{pct:g} of {len(xs)} samples ({beyond} beyond it)", value
    slowest = max(latencies, key=lambda t: statistics.median(latencies[t]))
    return (
        f"the median of the slowest op type, {slowest} ({len(xs)} samples; "
        f"a percentile with {min_beyond} beyond it needs {10 * min_beyond} for p90)",
        statistics.median(latencies[slowest]),
    )


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def per_type_geomean(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over op types of each type's median latency, so a
    short op type weighs as much as a long one."""
    return geomean([statistics.median(v) for v in latencies.values() if v])

"""Summary statistics shared by the benchmark and its self-tests."""

from __future__ import annotations

import statistics

# Percentiles a tail may be reported at; the highest one that keeps at
# least MIN_BEYOND samples above it is chosen.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float] | None:
    """(percentile, value) of the highest ladder percentile with at least
    ``min_beyond`` samples beyond it, or None when the sample is too small."""
    best = None
    for p in TAIL_LADDER:
        # tolerance: 100 * (1 - 0.9) is 9.999..., not 10, in binary floats
        if len(values) * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            best = (p, percentile(values, p))
    return best


def failed_share(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; attempted must be positive."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the run-to-run spread the acceptance rule uses."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

"""Small statistics the benchmark reports, kept apart so tests can pin them."""

import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=10):
    """(value, percentile) at the highest percentile that still has at least
    `beyond` samples above it, or None when there are too few samples.

    With n sorted samples, the sample at index n-1-beyond has exactly
    `beyond` samples above it; it sits at percentile 100*(n-beyond)/n.
    """
    n = len(xs)
    if n <= beyond:
        return None
    return sorted(xs)[n - 1 - beyond], 100.0 * (n - beyond) / n


def geomean(xs):
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def ratio(num, den):
    """num / den; a zero denominator is a harness error, never a metric."""
    if den <= 0:
        raise ValueError(f"ratio over a non-positive base {den}")
    return num / den


def core_idle_share(executor_run_s, wall_s, cores):
    """1 - busy executor time / (wall x cores): time the cores sat idle
    while the driver planned, committed or launched jobs."""
    return 1.0 - ratio(executor_run_s, wall_s * cores)

"""Statistics of the benchmark: medians, quartiles, supported percentiles.

A percentile is reported only when at least `MIN_BEYOND` samples lie
beyond it, so p90 needs 100 samples. Failed operations count in the
attempted total but never in a latency percentile.
"""
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def quartiles(xs):
    """(q1, median, q3) with `statistics.quantiles(xs, n=4)`, the method
    the benchmark's spread is judged by."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def beyond(n, q):
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - math.ceil(q * n)


def percentile(xs, q):
    """Nearest-rank percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it."""
    n = len(xs)
    if n == 0 or beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(xs)[max(0, math.ceil(q * n) - 1)]


def latencies(samples, key):
    """Latencies of the operations that succeeded."""
    return [key(s) for s in samples if s["ok"]]


def failed_frac(samples):
    """Failed operations over attempted ones, wrong outputs included."""
    return sum(1 for s in samples if not s["ok"]) / len(samples)

"""Order statistics for benchmark samples."""

import math


def percentile(values, q):
    """The q-th percentile (0 <= q <= 100) of `values` by linear
    interpolation between closest ranks, with the sample count it rests on.

    Returns (value, n); value is None when there are no samples.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, 0
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def tail_percentile(values, beyond=10):
    """The highest of p50, p90, p99, p99.9 that has at least `beyond`
    samples above it, as (q, value, n); (None, None, n) if even the median
    has fewer.
    """
    n = len(values)
    best = (None, None, n)
    for q in (50, 90, 99, 99.9):
        if round(n * (100 - q) / 100.0, 9) >= beyond:
            best = (q, percentile(values, q)[0], n)
    return best


def iqr_share(values):
    """Distance between the first and third quartiles as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives.
    """
    import statistics
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

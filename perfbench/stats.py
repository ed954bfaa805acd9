"""Summary statistics of the benchmark."""
import math
import statistics
from statistics import median  # noqa: F401  (re-exported)


def tail(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). The percentile p is read by nearest
    rank: the value at rank ceil(p * n / 100) of the sorted samples, which
    leaves n - rank samples above it. With n <= beyond no percentile
    qualifies, and the maximum is returned with percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return xs[rank - 1], p, n
    return xs[-1], 100, n


def later_half(samples):
    """The later half of a run's samples (the middle one included when the
    count is odd): the earlier ones run while the JIT is still settling."""
    return samples[len(samples) // 2:]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

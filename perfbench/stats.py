"""Summary arithmetic of the benchmark's reports: the tail percentile rule,
quartile spreads and bound checks. Pure functions, pinned by
perfbench/test_bench.py."""
import math
import statistics


def tail(values, beyond=10):
    """The highest whole percentile p whose nearest-rank value still has at
    least `beyond` samples above it in the sorted sample.

    Returns (p, value). With `beyond` or fewer samples no such percentile
    exists and (None, None) comes back.
    """
    n = len(values)
    if n <= beyond:
        return None, None
    ordered = sorted(values)
    best = None
    for p in range(1, 100):
        rank = math.ceil(p * n / 100)  # nearest-rank, 1-based
        if n - rank >= beyond:
            best = p
    if best is None:
        return None, None
    return best, ordered[math.ceil(best * n / 100) - 1]


def spread(values):
    """Inter-quartile distance as a share of the median, with quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`
    (negative when it is better)."""
    if better == "lower":
        return (second - first) / first
    return (first - second) / first

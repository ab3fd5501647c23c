"""Order statistics the benchmark reports: medians, nearest-rank
percentiles, the tail percentile of the choosing-metrics rule, and the
quartile spread used to judge whether a metric is steady."""

import math
import statistics


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(xs, beyond=10):
    """(p, value) for the highest whole percentile p that still has at
    least `beyond` samples strictly above it; None when there are too few
    samples for any."""
    n = len(xs)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    while p > 0:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= beyond:
            return p, v
        p -= 1
    return None


def spread(xs):
    """Inter-quartile distance as a share of the median, with quartiles as
    `statistics.quantiles(xs, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)

"""Order statistics shared by the benchmark's reports."""
import math
import statistics

LADDER = (50.0, 90.0, 99.0, 99.9)


def percentile(values, p):
    """The `p`-th percentile by linear interpolation between the two
    nearest order statistics (numpy's default rule). None for an empty
    list."""
    xs = sorted(values)
    if not xs:
        return None
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, ladder=LADDER):
    """The highest percentile of `ladder` that has at least ten samples
    beyond it among `n`, or None when even the median has fewer."""
    best = None
    for p in ladder:
        if round(n * (100.0 - p) / 100.0, 6) >= 10:
            best = p
    return best


def median(values):
    return statistics.median(values) if values else None


def spread(values):
    """Inter-quartile distance as a share of the median, as the acceptance
    check computes it (`statistics.quantiles(values, n=4)`)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")

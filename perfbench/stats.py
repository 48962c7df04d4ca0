"""Summary helpers: median, quartiles, and the tail percentile.

A timing is reported as its median and the highest percentile that
still has at least ten samples beyond it, next to the sample count.
"""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def quartiles(xs):
    """(q1, q2, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (None, None, None)
    return tuple(statistics.quantiles(xs, n=4))


def tail(xs, beyond=TAIL_BEYOND):
    """(percentile, value) of the highest percentile with at least
    `beyond` samples above it, or (None, None) when there are too few
    samples. The value is the sample with exactly `beyond` samples after
    it in sorted order; the percentile is the share of samples at or
    below it, rounded down."""
    n = len(xs)
    if n <= beyond:
        return None, None
    s = sorted(xs)
    return (100 * (n - beyond)) // n, s[n - beyond - 1]


def summary(xs):
    """Median, quartiles, tail and count of a list of timings."""
    q1, q2, q3 = quartiles(xs)
    pct, val = tail(xs)
    return {"n": len(xs), "p50": q2 if len(xs) >= 2 else median(xs),
            "q1": q1, "q3": q3, "tail_pct": pct, "tail": val}


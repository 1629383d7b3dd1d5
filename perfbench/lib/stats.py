"""Medians, quartile spreads and the tail-percentile rule."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def nearest_rank(sorted_xs, pct):
    """Nearest-rank percentile of an ascending list (pct in (0, 100])."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_xs[rank - 1]


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (label, value, n).

    With n samples the highest such nearest-rank percentile is
    floor(100 * (n - beyond) / n); its value is the (n - beyond)-th
    smallest sample. Below 2 * beyond samples that percentile falls
    under the median, so the sample cannot support a tail percentile;
    the upper quartile (nearest rank) is reported instead, labelled
    "p75 (n<20)" — steadier than the maximum of a handful of samples."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return "p75 (n<%d)" % (2 * beyond), nearest_rank(s, 75), n
    pct = math.floor(100.0 * (n - beyond) / n)
    # nearest rank of pct never lands above n - beyond
    return "p%d" % pct, nearest_rank(s, pct), n


def spread(values):
    """Quartile spread as a share of the median: (Q3 - Q1) / median,
    with quartiles as statistics.quantiles(values, n=4) gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)

"""Statistics shared by every timing the benchmark reports."""

import math
import statistics


def percentile(values, p):
    """The p-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest of `candidates` that leaves at least ten of n samples
    beyond it, or None when even the median does not."""
    for p in candidates:
        if round(n * (100 - p) / 100.0, 6) >= 10:
            return p
    return None


def summarize(values):
    """Median, the highest percentile with >= 10 samples beyond it, and
    the sample count."""
    out = {"n": len(values), "median": median(values) if values else None}
    p = tail_percentile(len(values))
    out["tail_p"] = p
    out["tail"] = percentile(values, p) if p is not None else None
    return out


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)

"""Percentile rule, quartiles and metric-name rules shared by run.py,
steady.py and the tests."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, beyond=10, grid=(99.9, 99, 95, 90, 75, 50)):
    """The highest percentile on `grid` with at least `beyond` of `n`
    samples above it, or None when even the median lacks them."""
    for p in grid:
        # in tenths of a percent, so 99.9 does not round below its count
        if n * (1000 - round(p * 10)) >= beyond * 1000:
            return p
    return None


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")

"""Order statistics for the benchmark's samples."""

import math

TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default); 0.0
    for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50)


def tail_percentile(n):
    """The highest ladder percentile with at least ten of `n` samples
    beyond it, or None when there are fewer than twenty samples."""
    ok = [p for p in TAIL_LADDER if n * (100 - p) / 100.0 >= 10]
    return ok[-1] if ok else None


"""Statistics helpers of the benchmark: percentiles, the tail rule, span
self time, failure share and the metric-name grammar."""
import math
import re

# A tail percentile needs at least this many samples beyond it.
TAIL_MIN_BEYOND = 10
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples; the product
    is rounded first so that 99.9% of 10000 is rank 9990, not 9991."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    return xs[_rank(len(xs), p) - 1]


def median(values):
    return percentile(values, 50.0)


def beyond(n, p):
    """Samples above the nearest-rank p-th percentile of n samples."""
    return n - _rank(n, p)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part its children cover; overlapping
    children count once."""
    return (end - start) - covered(children, start, end)


def error_frac(ops):
    """Failed ops over attempted ops; ops are dicts with an `ok` flag."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def valid_name(name):
    return NAME_RE.fullmatch(name) is not None

"""Statistics helpers shared by run.py and diff.py."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else None


def supported(n, q):
    """True when a sample of n values supports its q-quantile: a median
    needs one value, a higher percentile ten values above it."""
    return n >= 1 if q <= 0.5 else n - math.ceil(q * n) >= 10


def percentile(xs, q):
    """Nearest-rank q-quantile of xs, or None when the sample does not
    support it (see supported)."""
    if not supported(len(xs), q):
        return None
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. Returns {span id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], []) if c["end"] > lo and c["start"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out

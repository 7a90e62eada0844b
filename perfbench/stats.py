"""Percentiles and span arithmetic used by the benchmark's report."""
import math

TAIL_LADDER = (90, 95, 99, 99.9)


def _rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def nearest_rank(values, p):
    """The p-th percentile by the nearest-rank rule."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n, ladder=TAIL_LADDER, beyond=10):
    """Highest percentile of `ladder` with at least `beyond` of `n` samples
    above it, or None when even the lowest has fewer."""
    best = None
    for p in ladder:
        if n - _rank(p, n) >= beyond:
            best = p
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Per span id: its duration minus the part of its interval that its
    children cover (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_length(
            [(max(a, c["start_ms"]), min(b, c["end_ms"]))
             for c in kids.get(s["id"], []) if c["end_ms"] > a and c["start_ms"] < b])
        out[s["id"]] = (b - a) - covered
    return out

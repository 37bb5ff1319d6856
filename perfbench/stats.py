"""The benchmark's arithmetic: percentiles and span self time."""

import math
import statistics

# Percentile levels the report may choose from, highest last.
LEVELS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(n, p):
    # rounded first so that 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[_rank(len(s), p) - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_level(n, levels=LEVELS):
    """The highest percentile level with at least ten samples beyond it,
    or None when even the median has fewer than ten."""
    ok = [p for p in levels if beyond(n, p) >= 10]
    return max(ok) if ok else None


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. Children may overlap each other (parallel stages, a
    broadcast job beside the main job), so the covered part is the union
    of their intervals, clipped to the parent. Returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], ())
            if min(c["end"], hi) > max(c["start"], lo))
        out[s["id"]] = (hi - lo) - covered
    return out

"""Pure helpers of the benchmark: percentiles with sample counts, interval
unions and per-span self time. No I/O; tested by test_perfbench.py."""

import math


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between
    closest ranks, with the sample count and how many samples lie
    strictly beyond it. A high percentile is only worth reporting when
    ``beyond`` is at least 10."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"value": float("nan"), "n": 0, "beyond": 0}
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return {"value": v, "n": n, "beyond": sum(1 for x in xs if x > v)}


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with id,
    parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        children.get(s["id"], []), s["start"], s["end"]) for s in spans}

"""Arithmetic of the benchmark: percentiles, interval unions, span self
time and failure counting. Pure functions, tested in tests/test_stats.py.
"""
import math
import statistics


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals,
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
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


def idle_time(start, end, busy):
    """Part of [start, end] during which none of the busy intervals
    (e.g. running tasks) is running."""
    return (end - start) - union_length(busy, start, end)


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its children cover. `spans` maps id -> dict with
    start, end and parent. Returns id -> self time."""
    children = {}
    for sid, s in spans.items():
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {sid: idle_time(s["start"], s["end"], children.get(sid, []))
            for sid, s in spans.items()}


def self_time_by_layer(spans, layer_of):
    """Sum of self times grouped by layer_of(span)."""
    out = {}
    for sid, t in self_times(spans).items():
        layer = layer_of(spans[sid])
        out[layer] = out.get(layer, 0.0) + t
    return out


def failures(executions, wrong_keys):
    """(attempted, failed) over timed operations: an operation failed if
    it raised, or if its key's checked output was wrong.
    `executions` is a list of (key, ok)."""
    attempted = len(executions)
    failed = sum(1 for key, ok in executions if not ok or key in wrong_keys)
    return attempted, failed


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")

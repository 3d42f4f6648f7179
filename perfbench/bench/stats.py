"""Arithmetic the reducer relies on, kept free of I/O so it is testable."""

import bisect
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (percentile, value), or None when there are too few samples.
    The value is an observed sample (nearest rank); ties at the value do
    not count as beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    i = n - beyond - 1
    while i >= 0 and n - bisect.bisect_right(xs, xs[i]) < beyond:
        i -= 1
    if i < 0:
        return None
    return 100.0 * (i + 1) / n, xs[i]


def tail_value(values, beyond=10):
    """`tail`'s value, or the maximum when there are too few samples."""
    t = tail(values, beyond)
    if t is not None:
        return t[1]
    return max(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    """Intervals cut to [lo, hi]; those entirely outside are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(wall, start, stage_intervals, planning_ms):
    """Op wall time outside any stage and outside the planning phases.

    `stage_intervals` are clipped to the op's window [start, start+wall]
    before their union is taken, so overlapping stages count once.
    """
    busy = union_length(clip(stage_intervals, start, start + wall))
    return max(0.0, wall - busy - planning_ms)


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover.

    `spans` maps id -> (parent id or None, start, end). Returns id -> ms.
    """
    children = {}
    for sid, (parent, s, e) in spans.items():
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, (_, s, e) in spans.items():
        covered = union_length(clip(children.get(sid, []), s, e))
        out[sid] = max(0.0, (e - s) - covered)
    return out


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]

"""Pure metric arithmetic for the graft benchmark (no I/O, no Spark).

`run.py` feeds these the raw records the harness writes; the unit tests
in `tests/` pin the rules.
"""
import math
import statistics


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile (0 < p < 1) of `values`.

    A percentile is reported only when at least `min_beyond` samples lie
    beyond it; otherwise the sample cannot support it and this returns
    None. The median of 20 samples is supported; p90 needs 100 and p99
    needs 1000.
    """
    xs = sorted(values)
    n = len(xs)
    rank = math.ceil(p * n)
    if n == 0 or n - rank < min_beyond:
        return None
    return xs[max(rank, 1) - 1]


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


def uncovered(start, end, intervals):
    """Length of [start, end] not covered by any of `intervals` — the
    driver-only time of an invocation whose task intervals are given."""
    return (end - start) - union_length(clip(intervals, start, end))


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with id,
    parent, start_ms and end_ms; returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: uncovered(s["start_ms"], s["end_ms"], children.get(s["id"], []))
            for s in spans}


def geomean(values):
    vals = [v for v in values if v is not None]
    if not vals or min(vals) <= 0:
        return None
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def median(values):
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else None


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf

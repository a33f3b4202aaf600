"""Small statistics shared by run.py and its tests."""
import math
import statistics

# percentiles the tail metric may report, lowest first
TAIL_CANDIDATES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values, min_beyond=10):
    """Highest candidate percentile with at least `min_beyond` samples
    strictly above it: (percentile, value, samples beyond), or None when
    no candidate qualifies."""
    best = None
    for p in TAIL_CANDIDATES:
        if not values:
            break
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= min_beyond:
            best = (p, v, beyond)
    return best


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
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
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover. `spans` are dicts with id,
    parent, start and end; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        children.get(s["id"], []), s["start"], s["end"]) for s in spans}


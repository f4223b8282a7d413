"""Statistics the benchmark reports: the tail percentile and span self time."""
import math


def tail_percentile(n, min_above=10):
    """The highest whole percentile p such that at least ``min_above`` of
    ``n`` samples lie above it, or None when n leaves no such p.

    With nearest-rank percentiles the p-th percentile is sample number
    ceil(p/100 * n) in sorted order, so n - ceil(p/100 * n) samples lie
    above it."""
    for p in range(99, 0, -1):
        if n - math.ceil(p / 100 * n) >= min_above:
            return p
    return None


def percentile(values, p):
    """Nearest-rank p-th percentile of values."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    total, reach = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > reach and e > s:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval its child spans cover.

    spans: dicts with id, parent, start_ns, end_ns.  Returns {id: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) -
            covered(children.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def layer_of(name):
    """Layer a span belongs to: the text before ':' in its name."""
    return name.split(":", 1)[0]

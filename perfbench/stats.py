"""Summary statistics shared by the benchmark runner and its tests."""

import statistics


def median(values):
    """Median of a non-empty sequence; 0.0 for an empty one."""
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """Latency at the highest whole percentile that still has at least
    `beyond` samples above it.

    Returns (value, percentile, samples_beyond). With p = floor(100 * (n -
    beyond) / n), the value is the nearest-rank p-th percentile (sorted
    index ceil(p * n / 100) - 1), so every sample after it, at least
    `beyond` of them, lies beyond the reported percentile. With `beyond`
    or fewer samples no such percentile exists, and the slowest sample is
    returned as percentile 100 with 0 samples beyond.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n <= beyond:
        return xs[-1], 100, 0
    p = (100 * (n - beyond)) // n
    idx = max(0, -(-p * n // 100) - 1)
    return xs[idx], p, n - 1 - idx


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0
    cur_a = cur_b = None
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
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, t0_ns, t1_ns;
    returns {id: self_ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["t0_ns"], c["t1_ns"]) for c in children.get(s["id"], [])]
        covered = union_length(kids, s["t0_ns"], s["t1_ns"])
        out[s["id"]] = (s["t1_ns"] - s["t0_ns"]) - covered
    return out

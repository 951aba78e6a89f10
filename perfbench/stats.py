"""Summary statistics for the benchmark: the percentile rule and span self time."""
import math
import statistics


def rank(n, p):
    """1-based nearest rank of the p-th percentile among n sorted samples."""
    return max(1, math.ceil(p / 100.0 * n))


def reportable(n, p):
    """A percentile is reported only when at least 10 samples lie beyond it."""
    return n - rank(n, p) >= 10


def percentile(values, p):
    """Nearest-rank p-th percentile, or None when the rule forbids it."""
    n = len(values)
    if n == 0 or not reportable(n, p):
        return None
    return sorted(values)[rank(n, p) - 1]


def geomean(values):
    """Geometric mean: the typical size of positive values of different scales."""
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else None


def median(values):
    return statistics.median(values) if values else None


def self_times(spans):
    """Self time of each span, in ns: its duration minus the part of its
    interval that its child spans cover. Returns {span id: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cursor = 0, start
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], cursor), min(c["end_ns"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (end - start) - covered
    return out

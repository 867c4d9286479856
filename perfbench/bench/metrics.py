"""Metric arithmetic: percentiles, the tail rule, span self time."""
import math
import statistics

TAIL_BEYOND = 10


def nearest_rank(sorted_vals, p):
    """The p-th percentile (0 < p <= 100) by the nearest-rank method."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail(values, beyond=TAIL_BEYOND):
    """(percentile, value, n) for the highest whole percentile that still
    has at least `beyond` samples above its nearest-rank position. With
    `beyond` or fewer samples there is none and the maximum is returned
    as percentile 100."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    best = None
    for p in range(1, 100):
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            best = p
    if best is None:
        return 100, vals[-1], n
    return best, nearest_rank(vals, best), n


def self_times(spans):
    """Self time per span: its duration minus the part of its interval
    covered by its children (children of one parent may not overlap)."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for op, group in by_op.items():
        roots = [s for s in group if s.get("parent") is None]
        for s in group:
            dur = s["end_ns"] - s["start_ns"]
            if s.get("parent") is None:
                kids = [c for c in group if c.get("parent") == s["name"]]
                covered = _union([(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                                  for c in kids])
                out.append(dict(s, self_s=(dur - covered) / 1e9, wall_s=dur / 1e9))
            else:
                out.append(dict(s, self_s=dur / 1e9, wall_s=dur / 1e9))
        assert len(roots) <= 1, "one root span per operation"
    return out


def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    """Geometric mean; every operation weighs the same whatever its scale."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0

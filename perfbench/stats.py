"""Statistics and span arithmetic for the benchmark (no I/O)."""
import math


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between order
    statistics (numpy's default). Raises on an empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union(intervals):
    """Disjoint, sorted cover of the given (start, end) intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - length(clip(children, s, e))


def layer_split(op, layers):
    """Attribute an op's wall interval to layers.

    `layers` is an ordered list of (name, intervals). Each layer gets the
    part of its intervals, clipped to the op, that no earlier layer
    already claimed; `other` is what no layer covers. The values are
    non-negative and sum to the op's wall time exactly.
    """
    s, e = op
    claimed = []
    out = {}
    for name, ivs in layers:
        mine = clip(ivs, s, e)
        out[name] = out.get(name, 0.0) + length(claimed + mine) - length(claimed)
        claimed += mine
    out["other"] = (e - s) - length(claimed)
    return out

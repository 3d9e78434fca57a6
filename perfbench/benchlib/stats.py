"""Statistics of one run: percentiles over one homogeneous op class and the
per-layer self-time rollup of a traced run's spans."""
import math
from collections import defaultdict

# a percentile is reported only with this many samples strictly beyond it
MIN_BEYOND = 10


def percentile(samples, q):
    """Nearest-rank q-th percentile (0 < q < 100). Returns None unless at
    least MIN_BEYOND samples lie beyond the selected rank, so a tail figure
    is never read off a handful of points."""
    if not 0 < q < 100:
        raise ValueError("q must be in (0, 100)")
    xs = sorted(samples)
    if not xs:
        return None
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def tail(samples):
    """The highest percentile with MIN_BEYOND samples beyond it, as
    (percentile, value, sample count); None with too few samples."""
    xs = sorted(samples)
    rank = len(xs) - MIN_BEYOND
    if rank < 1:
        return None
    return (round(100.0 * rank / len(xs), 1), xs[rank - 1], len(xs))


def median(xs):
    xs = sorted(xs)
    if not xs:
        return None
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def merge(intervals):
    """The union of (start, end) intervals as sorted, disjoint [start, end]
    pairs; empty intervals drop out."""
    out = []
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def union_length(intervals):
    return sum(b - a for a, b in merge(intervals))


def self_times(spans):
    """Self time per span id: its duration minus the union of its direct
    children's intervals (clipped to the parent), in the span's units.
    A span is a dict with id, parent, start and end."""
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        covered = union_length((max(a, c["start"]), min(b, c["end"])) for c in kids[s["id"]])
        out[s["id"]] = (b - a) - covered
    return out


def rollup(spans):
    """Self time and count per span name."""
    st = self_times(spans)
    tot, cnt = defaultdict(float), defaultdict(int)
    for s in spans:
        tot[s["name"]] += st[s["id"]]
        cnt[s["name"]] += 1
    return {k: {"self": tot[k], "count": cnt[k]} for k in tot}


def largest_gap(parent, children):
    """Longest stretch of the parent's interval that no child covers."""
    a, b = parent["start"], parent["end"]
    gap, cur = 0, a
    for x, y in merge((max(a, c["start"]), min(b, c["end"])) for c in children):
        gap, cur = max(gap, x - cur), y
    return max(gap, b - cur)

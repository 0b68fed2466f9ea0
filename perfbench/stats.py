"""Interval, percentile and ratio helpers for turning raw per-op events
into metrics. Intervals are (start, end) pairs in milliseconds."""

# Span layers of one op, lowest priority first. At any instant of an
# op's wall time the highest-priority layer with an open span owns that
# instant, so the layers' self times plus the residue partition the
# op's wall time exactly and none can be negative.
LAYERS = ["ops.build", "catalyst.analysis", "catalyst.optimization",
          "catalyst.planning", "scheduler.job_self", "executor.stage"]


def union(intervals):
    """Merge overlapping intervals; returns sorted disjoint intervals."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def subtract(a, b):
    """Parts of the union of `a` not covered by the union of `b`."""
    out = []
    b = union(b)
    for s, e in union(a):
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
            if cur >= e:
                break
        if cur < e:
            out.append((cur, e))
    return out


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans, start, end):
    """Self time of each layer in LAYERS, plus 'driver.residue'.

    `spans` maps a layer name to its intervals. A layer's self time is
    the union of its intervals minus the union of every higher layer's
    intervals; the residue is the op's wall time minus the union of all
    spans. All values are in the unit of the intervals."""
    out = {}
    higher = []
    for layer in reversed(LAYERS):
        mine = clip(spans.get(layer, []), start, end)
        out[layer] = length(subtract(mine, higher))
        higher = union(higher + mine)
    out["driver.residue"] = (end - start) - length(higher)
    return out


def percentile(values, p):
    """Linear-interpolated p-th percentile (0-100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """Highest percentile of `n` samples with ten samples beyond it; the
    median when fewer than twenty samples leave no higher one."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n))


def fail_ratio(failed, attempted):
    if attempted <= 0:
        raise ValueError("fail ratio of zero attempts")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def median(values):
    return percentile(values, 50.0)

"""Pure metric arithmetic for the graft benchmark: the tail-percentile
rule, span self-times, and attribution of Spark jobs to ops."""

MIN_BEYOND = 10


def tail(values):
    """(percentile, value) at the highest percentile that leaves at least
    MIN_BEYOND samples beyond it: the value of rank n - MIN_BEYOND, the
    (MIN_BEYOND + 1)-th largest. None when that would not be a tail at
    all (fewer than 2 * MIN_BEYOND samples, so below the median)."""
    n = len(values)
    if n < 2 * MIN_BEYOND:
        return None
    k = n - MIN_BEYOND
    return 100.0 * k / n, sorted(values)[k - 1]


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its
    interval that its children cover (children clipped to the parent)."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        kids = [(max(c["start_ms"], lo), min(c["end_ms"], hi))
                for c in by_parent.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (hi - lo) - union_length(kids)
    return out


def attribute_jobs(jobs, ops):
    """{op id: [job records]}. A job belongs to the op whose job group it
    carries (`op-<id>`), or, for streaming jobs, to the op whose
    micro-batch id it carries. Time windows are never used."""
    by_group = {o["group"]: o["id"] for o in ops if o.get("group")}
    by_batch = {str(o["batch"]): o["id"] for o in ops
                if o.get("batch") is not None and o["batch"] >= 0}
    out = {o["id"]: [] for o in ops}
    for j in jobs:
        op = None
        if j.get("group") in by_group:
            op = by_group[j["group"]]
        elif j.get("batch") is not None and str(j["batch"]) in by_batch:
            op = by_batch[str(j["batch"])]
        if op is not None:
            out[op].append(j)
    return out

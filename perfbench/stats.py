"""Statistics and trace accounting of the benchmark (pure functions).

Job time is the *union* of job intervals, never their sum: overlapping jobs
(parallel fragment writes, backfill tasks) would otherwise be counted twice
and push the time outside jobs below zero.
"""
import statistics


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(-(-q * len(v) // 100)) - 1))
    return v[k]


def beyond(n, q):
    """Samples strictly above the q-th percentile of n samples."""
    return n - max(1, int(-(-q * n // 100)))


def median(values):
    return statistics.median(values)


def merge(intervals):
    """Sorted, disjoint union of (start, end) intervals."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def union_length(intervals, lo=None, hi=None):
    """Length of the union of intervals, clipped to [lo, hi] if given."""
    total = 0
    for a, b in merge(intervals):
        if lo is not None:
            a, b = max(a, lo), min(b, hi)
        total += max(0, b - a)
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) -
            union_length(kids.get(s["id"], []), s["t0"], s["t1"])
            for s in spans}


def op_split(op, jobs, phases):
    """Split one op's wall time into Spark jobs, Catalyst phases outside
    jobs, and the rest (warehouse metadata, commits, driver glue). The
    three parts are non-negative and sum to the wall time exactly."""
    lo, hi = op["t0"], op["t1"]
    job_iv = [(max(j["t0"], lo), min(j["t1"], hi)) for j in jobs]
    job_iv = [i for i in job_iv if i[1] > i[0]]
    in_jobs = union_length(job_iv)
    ph_iv = [(max(p["t0"], lo), min(p["t1"], hi)) for p in phases]
    in_either = union_length(job_iv + [i for i in ph_iv if i[1] > i[0]])
    wall = hi - lo
    return {"jobs": in_jobs, "catalyst": in_either - in_jobs,
            "outside": wall - in_either, "wall": wall}


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def verdict(parent, change, better, bound):
    """Section-8 verdict for one metric from paired runs.

    improved: the change wins at least 9/10 of pairs (ties count for
    neither) and the medians differ by more than the parent's own
    interquartile spread. no-worse: the change's median is within
    `bound` (a share of the parent median) of the parent's, and the
    parent's spread is within the bound. worse: beyond the bound with
    the spread within it. unresolved: the spread exceeds the bound and
    not every change run beats every parent run."""
    sign = 1 if better == "lower" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    q1, pm, q3 = quartiles(parent)
    cm = median(change)
    spread = q3 - q1
    win_frac = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (cm - pm) / abs(pm) if pm else 0.0
    if win_frac >= 0.9 and sign * (pm - cm) > spread:
        v = "improved"
    elif spread / abs(pm) > bound if pm else False:
        all_better = all(sign * (p - c) > 0 for p in parent for c in change)
        v = "improved" if all_better else "unresolved"
    elif worse_by > bound:
        v = "worse"
    else:
        v = "no-worse"
    return {"parent_median": pm, "change_median": cm, "parent_q1": q1,
            "parent_q3": q3, "change_q1": quartiles(change)[0],
            "change_q3": quartiles(change)[2], "win_fraction": win_frac,
            "verdict": v}

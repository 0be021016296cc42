"""Arithmetic of the benchmark: percentiles, span self time, and the
attribution of Spark jobs and stages to the ops and modules that caused
them. `selftest.py` checks each function on fixed inputs.
"""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile `p` (0 < p <= 100) of `values`."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values):
    """The highest percentile among TAIL_CANDIDATES that has at least ten
    samples above its rank, as (p, value, samples_beyond); None when even
    the median has fewer than ten beyond it."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= 10:
            return p, percentile(values, p), n - k
    return None


def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in segs:
        if b <= a:
            continue
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
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` maps id -> (parent, start, end)."""
    children = {}
    for sid, (parent, a, b) in spans.items():
        children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - union_length(children.get(sid, []), a, b)
            for sid, (parent, a, b) in spans.items()}


def stage_owners(jobs):
    """Each stage belongs to the first job that lists it; later jobs list
    it again only as a skipped stage."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for s in j["stages"]:
            owner.setdefault(s, j["id"])
    return owner


def job_op(job, ops_by_group, ops):
    """The op a job belongs to: by its job group, else the op whose
    interval holds the job's start (jobs of a streaming query carry the
    stream's own group), else None for the harness's own jobs."""
    op = ops_by_group.get(job.get("group"))
    if op is not None:
        return op
    for o in ops:
        if o["start_ns"] <= job["start_ns"] <= o["end_ns"]:
            return o
    return None


STAGE_FIELDS = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "sched_delay_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes")


def module_totals(jobs, stages, ops):
    """Sum the stage counters of `jobs` by the module of the op that ran
    each job ("harness" when no op did). Returns (by_module, totals); the
    per-module sums add up to the totals by construction, which the
    self-test checks."""
    ops_by_group = {o["group"]: o for o in ops}
    owner = stage_owners(jobs)
    job_by_id = {j["id"]: j for j in jobs}
    module_of_job = {}
    for j in jobs:
        op = job_op(j, ops_by_group, ops)
        module_of_job[j["id"]] = op["module"] if op else "harness"
    by_module, totals = {}, dict.fromkeys(STAGE_FIELDS, 0)
    for s in stages:
        jid = owner.get(s["id"])
        if jid is None or jid not in job_by_id:
            continue
        m = by_module.setdefault(module_of_job[jid], dict.fromkeys(STAGE_FIELDS, 0))
        for f in STAGE_FIELDS:
            m[f] += s[f]
            totals[f] += s[f]
    for j in jobs:
        m = by_module.setdefault(module_of_job[j["id"]], dict.fromkeys(STAGE_FIELDS, 0))
        m["jobs"] = m.get("jobs", 0) + 1
    totals["jobs"] = len(jobs)
    return by_module, totals


def median(values):
    return statistics.median(values) if values else float("nan")

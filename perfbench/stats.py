"""Arithmetic of the pipeline benchmark: interval unions, the exact split
of a step's wall into driver / scheduling-gap / stage time, span self time,
and the tail percentile its latency metrics report."""


def union(intervals):
    """Merge (start, end) intervals into disjoint, sorted ones."""
    merged = []
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [tuple(m) for m in merged]


def measure(intervals):
    """Total length covered by the intervals, overlaps counted once."""
    return sum(hi - lo for lo, hi in union(intervals))


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def partition(start, end, jobs, stages):
    """Split the step window [start, end] into three disjoint parts:

    - stage: some stage of the step is running;
    - gap: a job is running but none of its stages is;
    - driver: no job is running (plan construction, collects, renames).

    `jobs` and `stages` are (start, end) intervals; both are clipped to the
    window, so the three parts add up to end - start exactly. `outside` is
    the job and stage time that the clipping dropped: time the step's own
    events claim outside its window, which is 0 when every event is
    attributed to the right step.
    """
    stage_iv = clip(stages, start, end)
    busy = measure(clip(jobs, start, end) + stage_iv)
    stage = measure(stage_iv)
    return {"driver": (end - start) - busy, "gap": busy - stage, "stage": stage,
            "outside": measure(jobs + stages) - busy}


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - measure(clip(children, lo, hi))


def tail(values):
    """The highest nearest-rank percentile with at least ten samples above
    it, as (percentile, value, n); (None, None, n) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None, n
    rank = n - 10
    return 100.0 * rank / n, sorted(values)[rank - 1], n

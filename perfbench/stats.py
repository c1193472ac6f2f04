"""The benchmark's own arithmetic: medians, the tail-percentile rule,
span self time, and idle-core share from task intervals."""

import math

# Percentiles the tail rule chooses from, highest last.
TAIL_LADDER = (50, 75, 85, 90, 95, 99, 99.9)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p * len(s) / 100.0))
    return s[rank - 1]


def tail_percentile(n):
    """The highest percentile in TAIL_LADDER with at least ten of n
    samples beyond it, or None when n is too small for any."""
    best = None
    for p in TAIL_LADDER:
        beyond = n - math.ceil(p * n / 100.0)
        if beyond >= 10:
            best = p
    return best


def tail(xs):
    """(percentile, value): the tail-rule percentile of xs, or the
    maximum (reported as 100) when there are too few samples."""
    p = tail_percentile(len(xs))
    return (100, max(xs)) if p is None else (p, percentile(xs, p))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
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
    """Self time of each span (dict id -> same unit as start/end): its
    duration minus the part of it that its children cover. Overlapping
    children count once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(c["start"], c["end"]) for c in children.get(s["id"], [])],
            s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def busy_time(span_interval, task_intervals):
    """Task time inside a span: the sum over tasks of each task's
    overlap with the span (concurrent tasks on different cores add)."""
    lo, hi = span_interval
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in task_intervals)


def idle_core_share(spans, cores):
    """1 - task time / (wall x cores) over a set of spans.

    `spans` is a list of ((start, end), [task (launch, finish), ...]).
    """
    wall = sum(b - a for (a, b), _ in spans)
    if wall <= 0 or cores <= 0:
        return 0.0
    busy = sum(busy_time(iv, tasks) for iv, tasks in spans)
    return 1.0 - busy / (wall * cores)


def skew(durations):
    """Max task duration over the median one (1.0 for no tasks)."""
    if not durations:
        return 1.0
    m = median(durations)
    return max(durations) / m if m > 0 else 1.0


def overhead_share(traced_ops, reference_ops):
    """Traced over untraced time minus one, over the operations both sets
    of passes ran (each a list of passes, a pass a list of (name, s)),
    using each operation's median time."""
    def medians(passes):
        by = {}
        for ops in passes:
            for name, sec in ops:
                by.setdefault(name, []).append(sec)
        return {n: median(v) for n, v in by.items()}
    t, u = medians(traced_ops), medians(reference_ops)
    common = set(t) & set(u)
    if not common:
        raise ValueError("no operation ran both traced and untraced")
    return sum(t[n] for n in common) / sum(u[n] for n in common) - 1.0

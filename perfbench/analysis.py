"""Pure functions that turn the harness record into spans and metrics.

Kept free of Spark, DuckDB and the file system so that the rules the
benchmark's numbers rest on can be tested on their own (tests/).
"""
import math
import random
import statistics

# Percentiles the tail metric may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def pass_orders(members, seed, passes):
    """The query order of each pass: a seeded permutation per pass.

    The same members, seed and pass count always give the same orders.
    """
    rng = random.Random(seed)
    return [rng.sample(list(members), len(members)) for _ in range(passes)]


def rank(pct, n):
    """1-based nearest rank of the pct-th percentile of n samples."""
    # rounded first, so that 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_values, pct):
    """The nearest-rank percentile of an ascending list."""
    return sorted_values[rank(pct, len(sorted_values)) - 1]


def tail_rank(n):
    """(percentile, samples beyond it) of the tail metric for n samples.

    The tail is the highest ladder percentile that leaves at least
    TAIL_MIN_BEYOND samples above its nearest-rank position. With fewer
    samples than any ladder step needs, the median is used and the short
    count is reported as it is.
    """
    best = None
    for pct in TAIL_LADDER:
        beyond = n - rank(pct, n)
        if beyond >= TAIL_MIN_BEYOND:
            best = (pct, beyond)
    if best is None:
        pct = TAIL_LADDER[0]
        best = (pct, n - rank(pct, n))
    return best


def tail(values):
    """(value, percentile, samples beyond) of the tail metric."""
    s = sorted(values)
    pct, beyond = tail_rank(len(s))
    return nearest_rank(s, pct), pct, beyond


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of the intervals."""
    clipped = sorted((max(start, a), min(end, b)) for a, b in intervals
                     if min(end, b) > max(start, a))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part its children cover.

    Children may overlap each other (a micro-batch and the jobs it starts)
    and may stick out of the parent; overlap is counted once and only the
    part inside the parent is subtracted.
    """
    return (end - start) - covered(start, end, children)


def assign(times_ms, phases):
    """Assigns each integer-millisecond submission time to a phase.

    `phases` are (start_ms, end_ms, key) with fractional bounds, in time
    order and not overlapping. Spark stamps a job with whole milliseconds,
    so a time t stands for the millisecond [t, t + 1): it goes to the last
    phase that has started by then and has not ended before t. Times that
    fall between phases or outside all of them map to None.
    """
    out = []
    for t in times_ms:
        key = None
        for start, end, k in phases:
            if math.floor(start) <= t:
                key = k if t <= end else None
            else:
                break
        out.append(key)
    return out


def median(values):
    return statistics.median(values) if values else 0.0

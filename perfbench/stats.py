"""Arithmetic the benchmark reports with: percentiles, error rate, host speed
scaling, interval unions and self time. Kept free of I/O so test_stats.py
can check it."""
import math
import statistics

# Percentiles the tail metric may report, highest last.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def p50(values):
    """Median of the samples (mean of the middle two for an even count)."""
    if not values:
        raise ValueError("p50 of no samples")
    return statistics.median(values)


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least pct% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, pct):
    """How many of n samples lie past the nearest-rank pct-th one."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail(values, min_beyond=10):
    """The highest ladder percentile with at least min_beyond samples past
    it, as (percentile, value, samples beyond). None when even the median
    has fewer than min_beyond samples past it."""
    n = len(values)
    best = None
    for pct in TAIL_LADDER:
        if beyond(n, pct) >= min_beyond:
            best = (pct, percentile(values, pct), beyond(n, pct))
    return best


def error_rate(failed, attempted):
    """Failed operations over attempted ones."""
    if attempted < 1:
        raise ValueError("error rate of no attempts")
    return failed / attempted


def q1(values):
    """First quartile, as statistics.quantiles(values, n=4) gives it."""
    if len(values) < 2:
        raise ValueError("first quartile of fewer than two samples")
    return statistics.quantiles(values, n=4)[0]


def host_scale(burst_ns, ref_ms):
    """The factor that takes a time measured while host speed bursts took
    burst_ns to the time it would have taken while they took ref_ms: above
    1 on a host faster than the reference, below 1 on a slower one. The
    bursts' first quartile stands for them, because a burst that overlaps
    the JVM's own background work (JIT, GC) only ever takes longer."""
    return ref_ms / (q1(burst_ns) / 1e6)


def union(intervals):
    """Merge [start, end) intervals into disjoint sorted ones. Empty and
    inverted intervals are dropped."""
    merged = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [tuple(m) for m in merged]


def covered(intervals, clip=None):
    """Total length of the union of intervals, optionally clipped to the
    window clip=(start, end)."""
    if clip is not None:
        lo, hi = clip
        intervals = [(max(s, lo), min(e, hi)) for s, e in intervals]
    return sum(e - s for s, e in union(intervals))


def self_time(parent, children):
    """A span's duration minus the part of it its child spans cover."""
    return (parent[1] - parent[0]) - covered(children, clip=parent)

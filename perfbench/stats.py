"""Arithmetic shared by the benchmark's metrics: percentiles, interval
unions, span self time. Kept free of I/O so `selftest.py` can pin it."""

import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile of `xs` that has at least `beyond` samples above
    it, as (percentile, value, samples_beyond). In sorted order that is the
    sample at rank n - beyond; with `beyond` or fewer samples no percentile
    qualifies, and the maximum is returned with its true count beyond, 0."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return (0.0, 0.0, 0)
    if n <= beyond:
        return (100.0, xs[-1], 0)
    k = n - beyond
    return (100.0 * k / n, xs[k - 1], beyond)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it that its children cover.
    Children are clipped to the span, and overlapping children count once."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def driver_gap(op, jobs, plans):
    """Time an op spent on the driver outside any Spark job and outside
    Catalyst planning: the op span's self time with jobs and plan phases as
    its children."""
    return self_time(op, list(jobs) + list(plans))


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)

"""Scoring rules for perfbench: order statistics and failure accounting.

A failed operation (it threw, or its output check failed) stays in every
statistic as an infinitely slow sample, so a failure can only make a
number worse, never better. This is the contract `graft.Bench.score`
keeps for the headline bench: a query that fails is reported, never timed
as fast.
"""

import math

INF = float("inf")


def median(xs):
    """Median of a non-empty sequence (mean of the middle pair if even)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    mid = n // 2
    if n % 2:
        return s[mid]
    lo, hi = s[mid - 1], s[mid]
    return hi if INF in (lo, hi) else (lo + hi) / 2


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_samples(xs, p):
    """How many samples lie strictly above the p-th percentile."""
    cut = percentile(xs, p)
    return sum(1 for x in xs if x > cut)


def op_latency(ok, seconds):
    """An operation's scored latency: its time, or infinity if it failed."""
    return seconds if ok else INF


def pass_seconds(ops):
    """One pass's time: the sum of its operations' scored latencies."""
    return sum(op_latency(ok, t) for ok, t in ops)


def geomean(xs):
    """Geometric mean of positive samples; infinite if any is."""
    xs = list(xs)
    if not xs:
        raise ValueError("geomean of no samples")
    if INF in xs:
        return INF
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def fail_ratio(outcomes):
    """Failed operations over attempted ones; `outcomes` are booleans."""
    outcomes = list(outcomes)
    if not outcomes:
        raise ValueError("no operations attempted")
    return sum(1 for ok in outcomes if not ok) / len(outcomes)


def finite(x, cap=1e9):
    """JSON has no infinity: a statistic a failure reached prints as
    `cap`, which no real run approaches."""
    return cap if x == INF else x

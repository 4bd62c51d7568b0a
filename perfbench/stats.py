"""Order statistics shared by the workloads and the traced run."""

from __future__ import annotations

import math
import statistics

# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def median_with_failures(samples, failures=0):
    """Median of ``samples`` plus ``failures`` calls that count as beyond
    every sample; ``inf`` when the median falls on a failure."""
    ranked = sorted(samples) + [math.inf] * failures
    return statistics.median(ranked) if ranked else math.nan


def tail(samples, failures=0):
    """Highest order statistic with at least ``TAIL_BEYOND`` samples
    beyond it, over ``samples`` plus ``failures`` calls that count as
    beyond every percentile. It is never below the median: with fewer
    than ``2 * TAIL_BEYOND + 1`` samples the rule cannot give a tail, and
    the median (the upper one for an even count) stands in. Returns
    ``(value, percentile, n)``; the value is ``inf`` when the chosen rank
    falls on a failure."""
    ranked = sorted(samples) + [math.inf] * failures
    n = len(ranked)
    if n == 0:
        return math.nan, math.nan, 0
    idx = max(n - 1 - TAIL_BEYOND, n // 2)
    return ranked[idx], (idx + 1) / n, n


def geomean(values):
    values = [v for v in values if v > 0]
    if not values:
        return math.nan
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by ``(start, end)`` intervals, clipped to
    ``[lo, hi]``; overlapping intervals count once."""
    clipped = sorted(
        (max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)
    )
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

"""The harness's own arithmetic: the tail rule, medians with failed calls
and interval unions."""

import math

import pytest

from perfbench.harness import Call, LoopResult, loop_metrics
from perfbench.stats import median_with_failures, tail, union_length


def test_tail_leaves_ten_samples_beyond():
    value, pct, n = tail([float(i) for i in range(100)])
    assert (value, n) == (89.0, 100)
    assert pct == 0.9
    value, pct, n = tail([float(i) for i in range(30)])
    assert value == 19.0 and sum(v > value for v in range(30)) == 10


def test_tail_never_below_the_median():
    # 15 samples: the ten-beyond rank (4) is below the median rank (7)
    value, pct, n = tail([float(i) for i in range(15)])
    assert value == 7.0 and n == 15
    value, _, _ = tail([3.0])
    assert value == 3.0


def test_failures_count_beyond_every_percentile():
    ok = [float(i) for i in range(25)]
    value, _, n = tail(ok, failures=10)
    assert n == 35 and value == 24.0  # the slowest success; ten failures beyond
    value, _, _ = tail(ok, failures=11)
    assert value == math.inf


def test_tail_of_nothing():
    value, pct, n = tail([])
    assert n == 0 and math.isnan(value) and math.isnan(pct)


def test_union_length_counts_overlap_once_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3)], lo=1.5, hi=2.5) == 1
    assert union_length([(4, 5)], lo=0, hi=3) == 0
    assert union_length([]) == 0


def test_median_counts_failures_beyond_every_sample():
    assert median_with_failures([1.0, 2.0, 3.0], failures=2) == 3.0
    assert median_with_failures([1.0], failures=2) == math.inf
    assert math.isnan(median_with_failures([]))


def test_a_class_that_always_fails_is_not_dropped():
    ok = [Call("fast", 0.1, True) for _ in range(4)]
    slow = [Call("slow", 0.4, True) for _ in range(4)]
    broken = [Call("slow", 0.001, False) for _ in range(4)]
    healthy = loop_metrics(LoopResult(calls=ok + slow, wall_s=2.0))
    failing = loop_metrics(LoopResult(calls=ok + broken, wall_s=2.0))
    assert healthy["class_p50_geomean_ms"] == pytest.approx(200.0)
    # the failing class reads as the loop's wall time, not as absent
    assert failing["class_p50_geomean_ms"] == pytest.approx((100.0 * 2000.0) ** 0.5)

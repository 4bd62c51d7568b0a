"""Span self time, and job-group attribution from a Spark event log.

``data/eventlog-spark-4.1.2.json`` was written by Spark 4.1.2 (local mode,
uncompressed, non-rolling) while :class:`perfbench.trace.Tracer` held
span 0 ("outer") around a groupBy collect, span 1 ("inner", nested) around
a partitioned parquet write and a filtered read, then a count in span 0
after span 1 closed, then one count outside any span. Events and fields
the parser does not read, and the capture's file paths, were removed.
"""

import pickle
import sys
import types
from pathlib import Path

import pytest

from perfbench.trace import (
    GROUP_PROPERTY, Span, SpanTree, Tracer, instrument, read_event_log, self_times,
)

LOG = Path(__file__).parent / "data" / "eventlog-spark-4.1.2.json"


def spans(*rows):
    return [Span(sid, f"s{sid}", "t", start, parent, 0, end)
            for sid, parent, start, end in rows]


def test_self_time_subtracts_nested_children():
    st = self_times(spans((0, None, 0.0, 10.0), (1, 0, 1.0, 3.0), (2, 1, 1.5, 2.5)))
    assert st == {0: 8.0, 1: 1.0, 2: 1.0}


def test_self_time_counts_overlapping_children_once():
    st = self_times(spans((0, None, 0.0, 10.0), (1, 0, 1.0, 4.0), (2, 0, 2.0, 5.0)))
    assert st[0] == 6.0


def test_self_time_clips_a_child_running_past_its_parent():
    st = self_times(spans((0, None, 0.0, 10.0), (1, 0, 8.0, 12.0)))
    assert st[0] == 8.0 and st[1] == 4.0


class FakeContext:
    def __init__(self):
        self.props = {}
        self.history = []

    def setLocalProperty(self, key, value):
        self.props[key] = value
        self.history.append(value)


def test_span_sets_its_group_and_restores_the_parent():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("outer", "t") as outer:
        with tr.span("inner", "t") as inner:
            assert sc.props[GROUP_PROPERTY] == inner.group
        assert sc.props[GROUP_PROPERTY] == outer.group
    assert sc.props[GROUP_PROPERTY] is None
    assert inner.parent == outer.sid and outer.parent is None


def test_event_log_jobs_land_in_their_span_group():
    log = read_event_log(LOG)
    groups = [job.group for _, job in sorted(log.jobs.items())]
    assert groups == ["pb-0"] * 2 + ["pb-1"] * 4 + ["pb-0"] * 2 + [None] * 2
    totals = log.by_group()
    assert totals["pb-1"].tasks == 6
    assert totals["pb-1"].input_records == 67  # 50 rows written + 17 read back
    assert totals["pb-0"].input_records == 1100
    assert log.sql["pb-1"] == {"number of files read": 2, "number of partitions read": 1}


def test_span_tree_sums_a_subtree():
    log = read_event_log(LOG)
    tree = SpanTree(spans((0, None, 1.0, 2.0), (1, 0, 1.2, 1.8)), log)
    by_group = log.by_group()
    outer = tree.totals(0)
    assert outer.jobs == 8 and tree.totals(1).jobs == 4
    assert outer.cpu_ns == by_group["pb-0"].cpu_ns + by_group["pb-1"].cpu_ns
    assert tree.sql(0, "number of partitions read") == 1


def test_event_log_window_and_job_times():
    log = read_event_log(LOG)
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit)
    assert all(j.end >= j.submit for j in jobs)
    assert len(log.in_window(jobs[2].submit, jobs[6].submit)) == 4


@pytest.fixture
def fake_layer():
    mod = types.ModuleType("oasysdb_spark_fake_layer")

    def public(x):
        return helper(x) + 1

    def helper(x):
        return x * 2

    public.__module__ = helper.__module__ = mod.__name__
    mod.public, mod.helper = public, helper
    sys.modules[mod.__name__] = mod
    yield mod
    del sys.modules[mod.__name__]


def test_instrument_wraps_and_restores(fake_layer):
    original = fake_layer.public
    tr = Tracer()
    restore = instrument(tr, {"fake": fake_layer.__name__})
    assert fake_layer.public(3) == 7
    assert [s.name for s in tr.spans] == ["fake.public"]
    # a wrapped function pickles as a reference to the module attribute
    assert pickle.loads(pickle.dumps(fake_layer.public)) is fake_layer.public
    tr.enabled = False
    fake_layer.public(1)
    assert len(tr.spans) == 1
    restore()
    assert fake_layer.public is original

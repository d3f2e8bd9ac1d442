import time

import pytest

from perfbench import harness, workloads
from perfbench.harness import Record


def _serve(delay):
    def serve(op):
        time.sleep(delay)
        return op
    return serve


@pytest.mark.parametrize("delay", [0.0, 0.01, 0.03])
def test_measured_ops_are_the_same_whatever_the_speed(delay):
    # a window far shorter than the measured ops take: the loop runs on
    # until ops 0..9 have all completed
    recs = harness.closed_loop(_serve(delay), lambda i: i, 2, 0.02, min_done=10)
    assert {r.idx for r in recs} >= set(range(10))
    assert all(r.ok for r in recs)


def test_loop_keeps_both_clients_busy_until_the_measured_ops_are_done():
    recs = harness.closed_loop(_serve(0.02), lambda i: i, 2, 0.0, min_done=6)
    last = max(r.end for r in recs if r.idx < 6)
    # some op beyond the measured set ran alongside the last measured one
    assert any(r.idx >= 6 and r.start < last for r in recs)


def test_max_ops_bounds_the_loop():
    recs = harness.closed_loop(_serve(0.0), lambda i: i, 2, float("inf"), max_ops=7)
    assert [r.idx for r in recs] == list(range(7))


def _recs(lats):
    return [Record(i, "pass", 0.0, lat, True, None, None) for i, lat in enumerate(lats)]


def test_paired_overhead_compares_the_same_ops():
    before, after = _recs([1.0, 4.0, 2.0]), _recs([1.0, 4.0, 2.0])
    traced = _recs([1.1, 4.4, 2.2])
    assert workloads.paired_overhead(before, traced, after) == pytest.approx(0.1)

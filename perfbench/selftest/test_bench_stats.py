import pytest

from perfbench import stats


def test_percentile_needs_ten_samples_beyond():
    values = list(range(1, 101))  # 100 samples
    assert stats.percentile(values, 0.9) == 90  # 10 samples above rank 90
    assert stats.percentile(values, 0.95) is None  # only 5 beyond
    assert stats.percentile(values[:99], 0.9) is None  # 9 beyond


def test_percentile_is_order_independent():
    values = [5.0, 1.0, 3.0] * 20
    assert stats.percentile(values, 0.5) == stats.percentile(sorted(values), 0.5)


def test_tail_picks_highest_reportable():
    assert stats.tail(list(range(100))) == (0.9, 89)
    assert stats.tail(list(range(40))) == (0.75, 29)
    assert stats.tail(list(range(20))) is None
    assert stats.percentile([], 0.5) is None


def test_quartile_spread():
    s = stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert s["median"] == 3.0
    assert s["spread"] == pytest.approx((s["q3"] - s["q1"]) / 3.0)

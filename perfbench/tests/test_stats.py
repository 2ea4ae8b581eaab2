"""The benchmark's own arithmetic: tail percentile, spread and ratios."""

import statistics

import pytest

from perfbench import stats


@pytest.mark.parametrize("n, pct", [
    (10_000, 99.9),  # exactly 10 samples beyond p99.9
    (9_999, 99.0),
    (1_000, 99.0),  # exactly 10 beyond p99
    (999, 95.0),
    (200, 95.0),
    (100, 90.0),
    (40, 75.0),
    (20, 50.0),
    (19, None),  # not even the median has ten samples beyond it
    (0, None),
])
def test_tail_percentile_needs_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_tail_reports_value_and_count():
    values = list(range(1, 101))  # 1..100
    t = stats.tail(values)
    assert t == {"pct": 90.0, "value": 90.0, "n": 100}
    assert sum(v > t["value"] for v in values) >= stats.MIN_BEYOND
    assert stats.tail([1.0] * 5) == {"pct": None, "value": None, "n": 5}


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 20) == 1.0
    assert stats.percentile(xs, 21) == 2.0
    assert stats.percentile(xs, 100) == 5.0


def test_iqr_share_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


def test_ratio_carries_its_base():
    assert stats.ratio(3, 4) == {"value": 0.75, "num": 3, "base": 4}
    assert stats.ratio(3, 0) == {"value": None, "num": 3, "base": 0}

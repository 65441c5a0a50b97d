import statistics

import pytest

from perfbench import stats


def test_quartiles_match_statistics_quantiles():
    values = [3.1, 2.9, 3.4, 3.0, 2.8, 3.3, 5.0, 3.05, 2.95, 3.2]
    q1, q2, q3 = stats.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert q2 == statistics.median(values)


def test_iqr_share():
    values = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / q2)
    assert stats.iqr_share([0.0, 0.0, 0.0]) == 0.0


def test_single_value_is_its_own_quartiles():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.iqr_share([2.5]) == 0.0


def test_summary():
    s = stats.summary([4.0, 1.0, 3.0, 2.0])
    assert (s["n"], s["median"], s["min"], s["max"]) == (4, 2.5, 1.0, 4.0)
    assert s["q1"] <= s["median"] <= s["q3"]


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])

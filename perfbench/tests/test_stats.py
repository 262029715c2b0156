import pytest

import stats


def test_median_of_even_count_is_mean_of_middle_pair():
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_no_percentile_below_twenty_samples():
    # p50 of 19 samples has only 10 beyond it when rank is 9: int(19*0.5)=9
    # samples at or below, 10 beyond, so it qualifies; 18 samples do not.
    assert stats.highest_supported_percentile([float(i) for i in range(18)]) is None
    assert stats.highest_supported_percentile([float(i) for i in range(19)]) == (50.0, 8.0)


def test_highest_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 201)]  # 1..200
    p, v = stats.highest_supported_percentile(values)
    assert p == 95.0  # p99 would leave 2 beyond, p95 leaves 10
    assert v == 190.0
    assert sum(x > v for x in values) == 10


def test_summarize_reports_sample_count():
    out = stats.summarize([3.0, 1.0, 2.0])
    assert out == {"median": 2.0, "n": 3}
    out = stats.summarize([float(i) for i in range(100)])
    assert out["n"] == 100 and out["p"] == 90.0 and out["p_value"] == 89.0


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])

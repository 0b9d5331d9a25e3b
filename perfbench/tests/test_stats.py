import pytest

from stats import percentile, summary


def test_tail_percentile_needs_ten_samples_beyond_it():
    with pytest.raises(ValueError):
        percentile(list(range(39)), 75)
    assert percentile(list(range(40)), 75) == pytest.approx(29.25)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)
    assert percentile(list(range(100)), 90) == pytest.approx(89.1)


def test_median_is_always_reported():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    s = summary([1.0, 2.0, 3.0], "x", "s")
    assert s["n"] == 3 and s["p50"] == 2.0 and "p75" not in s

import pytest

from perfbench import stats


def test_p90_needs_ten_samples_beyond_the_cut():
    assert stats.min_samples(0.9) == 100
    assert stats.min_samples(0.5) == 20
    vals = list(range(1, 101))
    assert stats.beyond(len(vals), 0.9) == 10
    assert stats.percentile(vals, 0.9) == 90
    with pytest.raises(ValueError, match="need 10"):
        stats.percentile(vals[:99], 0.9)


def test_percentile_is_nearest_rank_and_order_free():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 4  # 20 samples
    assert stats.percentile(vals, 0.5) == 3.0
    with pytest.raises(ValueError):
        stats.percentile(vals[:19], 0.5)

import pytest
import stats


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile([1.0] * 99) is None
    p, v = stats.tail_percentile([float(i) for i in range(1, 101)])
    assert (p, v) == (90.0, 90.0)
    p, _ = stats.tail_percentile([1.0] * 1000)
    assert p == 99.0

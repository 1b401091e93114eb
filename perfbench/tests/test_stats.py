import numpy as np
import pytest

from stats import median, percentile, tail_percentile


@pytest.mark.parametrize("n, pct", [(200, 95), (180, 94), (100, 90), (20, 52), (11, 9), (10, None)])
def test_tail_percentile_known_sizes(n, pct):
    assert tail_percentile(n) == pct


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 400):
        values = list(range(n))
        pct = tail_percentile(n)
        assert sum(v > percentile(values, pct) for v in values) >= 10
        if pct < 99:
            assert sum(v > percentile(values, pct + 1) for v in values) < 10


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=37).tolist()
    for pct in (0, 5, 50, 90, 95, 100):
        assert percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))
    assert median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)

"""The percentile rule: the highest percentile with ten samples beyond it."""

import math
import statistics

import pytest

import stats


@pytest.mark.parametrize("n,pct", [(100, 90), (99, 89), (200, 95), (1000, 99), (20, 50), (11, 9)])
def test_tail_percentile_examples(n, pct):
    assert stats.tail_percentile(n) == pct


def test_tail_percentile_too_few_samples():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(0) is None


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 600):
        p = stats.tail_percentile(n)
        beyond = lambda q: n - max(1, math.ceil(q / 100 * n))  # noqa: E731
        assert beyond(p) >= 10
        assert p == 99 or beyond(p + 1) < 10


def test_nearest_rank_and_spread():
    xs = list(range(1, 101))
    assert stats.nearest_rank(xs, 90) == 90
    assert stats.nearest_rank(xs, 50) == 50
    assert stats.nearest_rank([5.0], 90) == 5.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / 50.5)

import pytest

from perfbench.stats import p50, tail


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    assert tail([5.0] * 10) is None
    value, pct, n = tail(list(range(1, 12)))  # 11 samples: the smallest
    assert (value, n) == (1, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_is_highest_qualifying_percentile():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    xs = xs[::2] + xs[1::2]
    value, pct, n = tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_p50():
    assert p50([]) is None
    assert p50([3.0, 1.0, 2.0]) == 2.0

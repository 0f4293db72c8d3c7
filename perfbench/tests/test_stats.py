"""The tail-percentile rule."""

import pytest

from harness import tail, tail_or_max


def test_tail_needs_eleven_samples():
    assert tail([1.0] * 10) is None
    assert tail(list(range(11))) == (0, pytest.approx(100 / 11), 11)


def test_tail_leaves_exactly_ten_samples_beyond():
    values = [float(v) for v in range(100, 0, -1)]  # unsorted input
    value, pct, n = tail(values)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_percentile_grows_with_samples():
    value, pct, n = tail([float(v) for v in range(1, 1001)])
    assert (value, pct, n) == (990.0, 99.0, 1000)


def test_tail_or_max_falls_back_to_slowest():
    assert tail_or_max([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail_or_max([float(v) for v in range(20)]) == tail([float(v) for v in range(20)])

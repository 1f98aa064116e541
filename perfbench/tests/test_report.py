"""The median and the tail-percentile rule on fixed arrays."""

from __future__ import annotations

import pytest

import report


def test_median():
    assert report.median([3.0, 1.0, 2.0]) == 2.0
    assert report.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert report.median([5.0]) == 5.0
    with pytest.raises(ValueError):
        report.median([])


@pytest.mark.parametrize(
    "n, value, pct",
    [
        (11, 1.0, 9),      # the smallest count with ten samples beyond one
        (20, 10.0, 50),
        (100, 90.0, 90),
        (1000, 990.0, 99),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, value, pct):
    values = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got = report.tail(values)
    assert got == (value, pct)
    assert sum(v > got[0] for v in values) >= 10
    # one percentile higher would leave fewer than ten beyond
    rank = -(-(pct + 1) * n // 100)
    assert n - rank < 10


def test_tail_needs_eleven_samples():
    assert report.tail([float(i) for i in range(10)]) is None

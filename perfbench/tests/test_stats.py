"""The tail rule: the highest percentile with at least ten samples
strictly beyond it, stated with its count."""

import pytest

from perfbench.stats import percentile, tail


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_picks_highest_supported_percentile():
    xs = [float(i) for i in range(1, 101)]
    # p99 has 1 sample beyond it, p95 has 5, p90 has exactly 10.
    assert tail(xs) == (90, 90.0, 10)
    xs = [float(i) for i in range(1, 201)]
    assert tail(xs) == (95, 190.0, 10)


def test_tail_counts_strictly_beyond():
    # 99 fast items and one slow one: ties at the percentile value are
    # not "beyond" it, so no percentile above the median qualifies.
    xs = [1.0] * 95 + [5.0] * 5
    assert tail(xs) is None
    xs = [1.0] * 80 + [float(i) for i in range(2, 22)]
    p, v, beyond = tail(xs)
    assert (p, beyond) == (90, 10) and v == 11.0


def test_tail_needs_enough_samples():
    assert tail([float(i) for i in range(19)]) is None
    assert tail([float(i) for i in range(20)]) == (50, 9.0, 10)

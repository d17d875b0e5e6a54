"""Percentile and tail-sample rule of the benchmark's summaries."""

import pytest

import stats


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 99.9) == 100
    assert stats.percentile([3.0], 50) == 3.0
    assert stats.percentile([5, 1, 3], 100) == 5  # order of input is irrelevant


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(100, 95) == 5
    assert stats.samples_beyond(21, 50) == 10
    assert stats.samples_beyond(20, 50) == 10
    assert stats.samples_beyond(19, 50) == 9


def test_tail_takes_highest_percentile_with_ten_beyond():
    # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    t = stats.tail([float(i) for i in range(1, 101)])
    assert t == {"percentile": 90.0, "value": 90.0, "n": 100}
    # 1000 samples: p99 leaves 10 beyond
    assert stats.tail(list(range(1000)))["percentile"] == 99.0
    # 40 samples: p75 leaves 10 beyond
    assert stats.tail(list(range(40)))["percentile"] == 75.0


def test_tail_needs_enough_samples():
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(20)))["percentile"] == 50.0
    assert stats.tail([]) is None


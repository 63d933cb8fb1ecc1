"""Tests of the benchmark's own arithmetic on hand-made inputs.

    python3 -m pytest perfbench/test_stats.py -q
"""

import statistics

import pytest

from perfbench import stats


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartiles_match_statistics_quantiles():
    values = [7.0, 1.0, 3.0, 9.0, 5.0, 11.0, 2.0, 8.0, 4.0, 6.0]
    # exclusive method on 1..9,11 sorted: positions (n+1)p
    assert stats.quartiles(values) == (2.75, 5.5, 8.25)
    assert stats.quartiles(values) == tuple(statistics.quantiles(values, n=4))
    with pytest.raises(ValueError):
        stats.quartiles([1.0])


def test_percentile_nearest_rank():
    values = [float(v) for v in range(1, 101)]  # 1..100
    assert stats.percentile(values, 95) == 95.0
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 100) == 100.0
    assert stats.percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        stats.percentile(values, 0)


def test_p95_needs_ten_samples_beyond():
    # 200 samples: p95 is the 190th value and exactly 10 lie above it
    values = [float(v) for v in range(1, 201)]
    assert stats.percentile(values, 95) == 190.0
    assert stats.beyond(values, 95) == stats.MIN_BEYOND
    # 199 samples: p95 is still the 190th value, and only 9 lie beyond
    assert stats.beyond(values[:199], 95) == 9


def test_beyond_with_ties_counts_only_strictly_beyond():
    values = [1.0] * 50 + [2.0] * 50
    assert stats.percentile(values, 75) == 2.0
    assert stats.beyond(values, 75) == 0


def test_self_time_subtracts_children_once():
    # parent 0..10; children 1..3 and 2..5 overlap (cover 1..5) and 8..12
    # is clipped to 8..10: covered 4 + 2 = 6, self 4
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0


def test_self_time_without_children_and_disjoint_children():
    assert stats.self_time(2.0, 5.0, []) == 3.0
    assert stats.self_time(0.0, 10.0, [(11.0, 12.0)]) == 10.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (3.0, 4.0)]) == 0.0


def test_covered_union():
    assert stats.covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert stats.covered([]) == 0.0


def test_repeat_share_counts_earlier_occurrences():
    assert stats.repeat_share([["a", "b"], ["a"], ["c", "b", "b"]]) == 3 / 6
    assert stats.repeat_share([]) == 0.0

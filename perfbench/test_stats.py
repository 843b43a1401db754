"""Tests for the benchmark's own arithmetic.

Run with ``python3 -m pytest perfbench`` from the repository root."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import due_latencies, failed_fraction, median, self_time, tail  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = tail(values)
    assert n == 100
    assert value == 90  # 91..100 are the ten beyond it
    assert pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_is_order_independent_and_ranks_ties():
    values = [5.0] * 25 + [1.0] * 5
    value, pct, n = tail(list(reversed(values)))
    assert (value, n) == (5.0, 30)
    assert pct == pytest.approx(100.0 * 20 / 30)


def test_tail_with_too_few_samples_falls_back_to_max():
    # 2 * 10 samples or fewer: rank n - 10 would sit at or below the median
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(20)]) == (19.0, 100.0, 20)
    value, pct, n = tail([float(i) for i in range(21)])
    assert (value, n) == (10.0, 21)  # 11..20 are the ten beyond it
    assert pct == pytest.approx(100.0 * 11 / 21)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


def test_median():
    assert median([3, 1, 2]) == 2.0
    assert median([4, 1, 2, 3]) == 2.5


def test_self_time_no_children():
    assert self_time(0.0, 5.0, []) == 5.0


def test_self_time_subtracts_union_of_children():
    # children overlap on [2, 3]: covered = [1, 4] = 3 s
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == pytest.approx(7.0)


def test_self_time_clips_children_to_the_span():
    # child sticks out on both sides: only [0, 10] counts
    assert self_time(0.0, 10.0, [(-5.0, 2.0), (8.0, 20.0)]) == pytest.approx(6.0)
    # a child entirely outside counts nothing
    assert self_time(0.0, 10.0, [(11.0, 12.0)]) == 10.0


def test_self_time_nested_and_disjoint():
    assert self_time(0.0, 10.0, [(1.0, 2.0), (1.5, 1.7), (5.0, 6.0)]) == pytest.approx(8.0)


def test_due_latency_counts_from_due_time_not_send_time():
    # the generator stalled: arrival 2 was due at t=1 but sent at t=3;
    # its latency still counts from t=1.
    due = [0.0, 1.0, 2.0]
    committed = [0.5, 3.5, 3.5]
    assert due_latencies(due, committed) == [0.5, 2.5, 1.5]


def test_due_latency_rejects_uncommitted_and_mismatched():
    with pytest.raises(ValueError):
        due_latencies([0.0], [None])
    with pytest.raises(ValueError):
        due_latencies([0.0, 1.0], [1.0])


def test_failed_fraction():
    assert failed_fraction(0, 61) == 0.0
    assert failed_fraction(1, 4) == 0.25
    with pytest.raises(ValueError):
        failed_fraction(0, 0)
    with pytest.raises(ValueError):
        failed_fraction(5, 4)

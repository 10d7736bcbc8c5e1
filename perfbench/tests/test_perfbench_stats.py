"""Tail-percentile and geomean arithmetic."""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    pct, value, beyond = stats.tail_percentile(xs)
    assert (pct, value, beyond) == (90.0, 90.0, 10)


def test_tail_is_order_free_and_smooth_in_n():
    xs = [float(i) for i in range(400, 0, -1)]  # 400 samples, reversed
    pct, value, beyond = stats.tail_percentile(xs)
    assert pct == 97.0 and value == 388.0 and beyond == 12
    pct380, _, beyond380 = stats.tail_percentile(xs[:380])
    assert pct380 == 97.0 and beyond380 >= 10


def test_tail_below_p90_is_the_slowest_type_median():
    with pytest.raises(ValueError):
        stats.tail_percentile([1.0] * 10)
    lat = {"fast": [0.1, 0.2, 0.9], "slow": [1.0, 3.0, 2.0]}
    note, value = stats.tail_latency(lat)
    assert value == 2.0 and "slow" in note
    many = {"a": [float(i) for i in range(1, 101)]}
    note, value = stats.tail_latency(many)
    assert value == 90.0 and note.startswith("p90 of 100 samples")


def test_geomean_weighs_short_and_long_ops_alike():
    assert math.isclose(stats.geomean([0.4, 10.0]), 2.0)
    lat = {"short": [0.4, 0.5, 0.3], "long": [10.0, 9.0, 11.0]}
    assert math.isclose(stats.per_type_geomean(lat), 2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])

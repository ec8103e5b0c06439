"""Metric names and the tail-percentile rule."""

from __future__ import annotations

import json
import os
import re

import pytest

import run
import stats
from conftest import REPO_ROOT

#: names start with a letter or digit and use only ``[A-Za-z0-9_.-]``
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_match_pattern_and_are_unique():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert [n for n in names if not NAME.match(n)] == []
    assert len(names) == len(set(names))
    units = [m["unit"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert [u for u in units if not UNIT.match(u)] == []


def test_end_to_end_has_setup_with_largest_bound():
    e2e = {m["name"]: m for m in _bench()["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25


@pytest.mark.parametrize("n,expected", [
    (10, None),   # nothing at or above the median leaves 10 beyond
    (19, None),
    (20, 50),
    (24, 58),
    (100, 90),
    (1000, 99),
])
def test_tail_percentile_leaves_ten_beyond(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_percentile_is_highest_qualifying():
    for n in range(20, 400):
        p = stats.tail_percentile(n)
        rank = -(-p * n // 100)
        assert n - rank >= 10
        if p < 99:
            nxt = -(-(p + 1) * n // 100)
            assert n - nxt < 10


def test_tail_value_and_small_sample_fallback():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, p, n = stats.tail(values)
    assert (p, n) == (90, 100)
    assert v == 90.0 and sum(x > v for x in values) == 10
    v, p, n = stats.tail([3.0, 1.0, 2.0])
    assert (p, n) == (90, 3)
    assert v == pytest.approx(stats.hd_quantile([1.0, 2.0, 3.0], 0.9)) and 2.5 < v < 3.0


def test_median_rejects_empty():
    with pytest.raises(ValueError):
        stats.median([])
    with pytest.raises(ValueError):
        stats.hd_median([])
    with pytest.raises(ValueError):
        stats.hd_quantile([], 0.9)


def test_betainc_matches_closed_forms():
    assert stats.betainc(1.0, 1.0, 0.3) == pytest.approx(0.3)
    assert stats.betainc(2.0, 1.0, 0.3) == pytest.approx(0.09)
    assert stats.betainc(3.0, 3.0, 0.5) == pytest.approx(0.5)
    # I_x(a, b) = 1 - I_{1-x}(b, a)
    assert stats.betainc(2.5, 4.0, 0.2) == pytest.approx(1 - stats.betainc(4.0, 2.5, 0.8))


def test_hd_median_is_a_smooth_median():
    assert stats.hd_median([2.0]) == 2.0
    assert stats.hd_median([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0)
    assert stats.hd_median([4.0, 1.0, 3.0, 2.0]) == pytest.approx(2.5)
    # one far outlier pulls it a little, never to the outlier
    skewed = stats.hd_median([1.0, 2.0, 3.0, 4.0, 100.0])
    assert 3.0 < skewed < 10.0


def test_steal_share_is_stolen_over_wanted_cpu_time():
    assert run._steal_share((1000, 50), (1090, 60)) == pytest.approx(0.1)
    assert run._steal_share((5, 5), (5, 5)) == 0.0
    wall, adjusted = run._stopwatch()()
    assert 0.0 <= adjusted <= wall

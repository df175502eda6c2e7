"""Tests of the benchmark's metric arithmetic on synthetic spans and
samples. Run with ``python3 -m pytest perfbench -q``; no Spark session
is started."""

from __future__ import annotations

import statistics
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import metrics  # noqa: E402


def test_tail_keeps_ten_samples_above():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = metrics.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_ignores_input_order():
    xs = [float((i * 37) % 100) for i in range(100)]  # 0..99, shuffled
    assert metrics.tail(xs) == metrics.tail(sorted(xs)) == (89.0, 90.0, 100)


def test_tail_smallest_sample_count_above_the_upper_quartile():
    xs = [float(i) for i in range(41)]  # 41 samples: index 30 has ten above
    value, pct, n = metrics.tail(xs)
    assert (value, n) == (30.0, 41)
    assert pct == pytest.approx(100 * 31 / 41)
    assert sum(x > value for x in xs) == 10


def test_tail_is_the_upper_quartile_for_few_samples():
    xs = [float(i) for i in range(1, 41)]  # 40 samples: ten above is p75
    assert metrics.tail(xs) == (statistics.quantiles(xs, n=4)[2], 75.0, 40)
    assert metrics.tail([3.0, 1.0, 2.0, 4.0, 5.0, 6.0, 7.0, 8.0]) == (6.75, 75.0, 8)
    assert metrics.tail([2.0]) == (2.0, 75.0, 1)
    with pytest.raises(ValueError):
        metrics.tail([])


def test_self_time_without_children():
    assert metrics.self_time(0.0, 10.0, []) == 10.0


def test_self_time_counts_overlapping_children_once():
    # [1,4] and [3,6] overlap on [3,4]: together they cover 5 s.
    assert metrics.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)


def test_self_time_nested_and_clipped_children():
    children = [(2.0, 8.0), (3.0, 4.0), (-5.0, 1.0), (9.0, 20.0)]
    # covered: [0,1] + [2,8] + [9,10] = 8 of the 10 s span
    assert metrics.self_time(0.0, 10.0, children) == pytest.approx(2.0)


def test_self_time_children_out_of_order():
    assert metrics.self_time(0.0, 4.0, [(3.0, 4.0), (0.0, 1.0), (0.5, 2.0)]) == pytest.approx(1.0)


def test_write_amp():
    assert metrics.write_amp(3000, 1000) == 3.0
    assert metrics.write_amp(0, 0) == 1.0
    with pytest.raises(ValueError):
        metrics.write_amp(10, 0)


def test_core_util():
    # 6 s of task time in a 2 s exec step on 4 cores: 75% busy.
    assert metrics.core_util(6.0, 2.0, 4) == pytest.approx(0.75)
    assert metrics.core_util(1.0, 0.0, 4) == 0.0


def test_spread_matches_quartiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3 = 11.75, 14.5, 17.25  # statistics.quantiles' default method
    assert metrics.spread(values) == pytest.approx((q3 - q1) / q2)


def _module(name: str, **attrs) -> types.ModuleType:
    mod = types.ModuleType(name)
    vars(mod).update(attrs)
    return mod


def test_discover_caches_finds_only_module_level_cache_dicts():
    a = _module("pkg.a", _X_CACHE={}, _Y_CACHE={}, OTHER={}, _Z_CACHE=[])
    b = _module("pkg.b", _DF_CACHE={("app", "dir", "t"): 1})
    found = metrics.discover_caches([a, b])
    assert sorted(found) == ["pkg.a._X_CACHE", "pkg.a._Y_CACHE", "pkg.b._DF_CACHE"]
    assert found["pkg.b._DF_CACHE"] is vars(b)["_DF_CACHE"]


def test_new_keys_counts_builds_per_cache():
    caches = {"m._A_CACHE": {1: "x", 2: "y"}, "m._B_CACHE": {}}
    before = {n: set(c) for n, c in caches.items()}
    caches["m._A_CACHE"][3] = "z"
    caches["m._B_CACHE"]["k"] = "w"
    del caches["m._A_CACHE"][1]
    assert metrics.new_keys(before, caches) == 2


def test_discovery_covers_caches_the_hand_lists_missed():
    """bench.py's two hand-kept 12-name lists miss these two caches."""
    pytest.importorskip("pyspark")
    import importlib
    import pkgutil

    from seng550_a3_etl_spark import catalog, suite

    mods = [
        importlib.import_module(f"{suite.__name__}.{m.name}")
        for m in pkgutil.iter_modules(suite.__path__)
    ]
    found = metrics.discover_caches(mods + [catalog])
    assert "seng550_a3_etl_spark.suite.streaming_suite._RAW_SCHEMA_CACHE" in found
    assert "seng550_a3_etl_spark.catalog._DF_CACHE" in found
    assert len(found) >= 14


@pytest.mark.parametrize(
    "text, value",
    [
        ("2.1 s", 2.1),
        ("747 ms", 0.747),
        ("1.5 m", 90.0),
        ("68.6 KiB", 68.6 * 1024),
        ("12 B", 12.0),
        ("total (min, med, max (stageId: taskId))\n3.0 s (1.0 s, 1.0 s, 1.0 s (stage 1.0: task 3))", 3.0),
        ("total (min, med, max (stageId: taskId))\n1,024.0 MiB (1 B, 2 B, 3 B (stage 2.0: task 9))", 1024.0 * 2**20),
        ("", 0.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert metrics.parse_sql_metric(text) == pytest.approx(value)

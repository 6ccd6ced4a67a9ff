"""Tests of the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402


def test_tail_leaves_ten_samples_beyond_and_reports_n():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order is irrelevant
    value, q, n = stats.tail(list(reversed(xs)))
    assert n == 100
    assert q == pytest.approx(0.9)
    assert sum(x > value for x in xs) == 10
    assert value == 90.0


@pytest.mark.parametrize("n", [11, 15, 20, 37, 250])
def test_tail_rule_for_any_n(n):
    xs = [float(i) for i in range(n)]
    value, q, got_n = stats.tail(xs)
    assert got_n == n
    assert q == pytest.approx(1 - 10 / n)
    assert sum(x > value for x in xs) == 10


def test_tail_with_too_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 1.0, 3)


def test_union_length_merges_overlaps_and_ignores_empty_intervals():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert stats.covered((1, 5), [(0, 2), (4, 10)]) == 2


def test_self_time_subtracts_covered_children_once():
    spans = [
        Span("plans.build", 0.0, 10.0, None),
        Span("operators.a", 1.0, 4.0, 0),
        Span("functions.b", 2.0, 3.0, 1),
        Span("operators.c", 3.5, 6.0, 0),  # overlaps a: union is 1.0..6.0
    ]
    assert stats.self_times(spans) == pytest.approx([5.0, 2.0, 1.0, 2.5])


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    import statistics
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


def test_every_metric_name_is_well_formed_and_declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    assert all(stats.METRIC_NAME.match(n) for n in names), names
    assert all(stats.METRIC_NAME.match(w) for w in run.WORKLOADS)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        units = {**run.END_TO_END, **run.PER_LAYER}
        assert m["unit"] == units[m["name"]]


def test_timed_pass_count_depends_on_seconds_only():
    for w in run.WORKLOADS:
        assert run.timed_passes(w, 0.1) == 1
        assert run.timed_passes(w, 14) == round(14 / run.NOMINAL_PASS_S[w])
    assert set(run.NOMINAL_PASS_S) == set(run.WORKLOADS)


def test_datagen_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    a = datagen.generate(str(tmp_path / "a"), seed=7, sf=0.001)
    b = datagen.generate(str(tmp_path / "b"), seed=7, sf=0.001)
    c = datagen.generate(str(tmp_path / "c"), seed=8, sf=0.001)
    assert a == b == c
    for t in datagen.TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    assert not pq.read_table(tmp_path / "a" / "lineitem.parquet").equals(
        pq.read_table(tmp_path / "c" / "lineitem.parquet"))


def test_cache_reset_leaves_no_persistent_rdds():
    pyspark = pytest.importorskip("pyspark")
    import probes

    spark = (pyspark.sql.SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        df = spark.range(1000).selectExpr("id % 7 AS k").cache()
        df.count()
        rdd = spark.sparkContext.parallelize(range(100)).persist()
        rdd.count()
        probe = probes.SparkProbe(spark)
        entries, size = probe.cache_state()
        assert entries == 2 and size > 0
        probe.reset_cache(spark)
        assert probe.cache_state() == (0, 0)
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0
        assert df.storageLevel == pyspark.StorageLevel.NONE  # plan entry gone
    finally:
        spark.stop()

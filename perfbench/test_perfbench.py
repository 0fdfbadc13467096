"""The benchmark's own tests: metric names and units, the tail rule, the
seeded inputs and the request decks. None of them starts a Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys
from collections import Counter

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- metric names and units ---------------------------------------------------

def test_end_to_end_names_and_units_are_what_run_prints(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert list(run.END_TO_END) == [
        "setup_s", "first_pass_s", "request_p50_s", "request_tail_s",
        "requests_per_s"]


def test_per_layer_names_and_units_are_what_run_prints(bench):
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    for module in ("operators.go", "operators.fetch", "operators.lookup",
                   "operators.scan", "operators.analytics",
                   "pipeline.similarity", "pipeline.dedup", "mutate.bucketed"):
        for field in ("build_s", "build_jobs", "plan_s", "execute_s",
                      "execute_jobs", "stages", "task_cpu_s", "input_mb",
                      "shuffle_mb", "spill_mb"):
            assert f"{module}.{field}" in run.PER_LAYER


def test_bounds_and_workloads(bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert bench["command"] == ["python3", "perfbench/run.py"]


# -- tail rule ------------------------------------------------------------------

@pytest.mark.parametrize("n,pct", [
    (0, None), (19, None), (20, 50.0), (24, 100 * 14 / 24), (55, 100 * 45 / 55),
    (42, 100 * 32 / 42), (100, 90.0), (1000, 99.0)])
def test_tail_percentile_by_sample_count(n, pct):
    assert stats.tail_percentile(n) == pct


def test_tail_leaves_exactly_ten_samples_beyond():
    for n in range(20, 400):
        values = list(range(n))
        p, v = stats.tail(values)
        assert sum(1 for x in values if x > v) == stats.TAIL_BEYOND
        assert p == 100.0 * (v + 1) / n  # nearest rank of the value


def test_a_failed_request_counts_as_a_tail_miss():
    values = [0.1] * 30 + [math.inf] * 11
    assert stats.tail(values)[1] == math.inf


def test_drift_compares_halves():
    assert stats.drift([2.0, 2.0, 1.0, 1.0]) == 0.5
    assert stats.drift([1.0, 1.0]) is None


# -- seeded inputs ---------------------------------------------------------------

def test_datagen_is_seeded_and_keys_are_unique(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.write_tables(a, 0.001, 3)
    datagen.write_tables(b, 0.001, 3)
    datagen.write_tables(c, 0.001, 4)
    for t in workloads.TPCH_TABLES:
        ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
        assert ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet")))
    orders = [pq.read_table(os.path.join(d, "orders.parquet")) for d in (a, c)]
    assert not orders[0].equals(orders[1])
    li = pq.read_table(os.path.join(a, "lineitem.parquet")).to_pydict()
    keys = list(zip(li["l_orderkey"], li["l_linenumber"]))
    assert len(keys) == len(set(keys))
    assert str(orders[0].schema.field("o_orderdate").type) == "timestamp[us]"


# -- request decks ---------------------------------------------------------------

def test_graph_round_holds_each_stratum_once_and_fills_the_tail():
    wl = workloads.GraphLookups(None, "unused", "unused", seed=1)
    rnd = wl.next_round()
    counts = Counter(r.stratum for r in rnd)
    assert set(counts.values()) == {1}
    assert len(rnd) == 11 and wl.min_rounds * len(rnd) == 55
    assert {r.kind for r in wl.first_pass()} == {r.kind for r in rnd}
    again = workloads.GraphLookups(None, "unused", "unused", seed=1).next_round()
    assert [r.expect for r in again] == [r.expect for r in rnd]


def test_bucketed_replay_keeps_the_table_bounded(tmp_path):
    datagen.write_tables(str(tmp_path), 0.002, 5)
    wl = workloads.BucketedMutations(None, str(tmp_path), str(tmp_path), seed=2)
    n = wl.model.n
    wl.first_pass()
    sizes, writes = [], []
    for _ in range(20):
        rnd = wl.next_round()
        writes.append(sorted(r.stratum for r in rnd if r.is_write))
        sizes.append(wl.model.live_rows())
    assert len(rnd) == 14 and wl.min_rounds * len(rnd) == 42
    # the warm rounds write a pair of each size; the window two small, one large
    large, small = ["delete_large", "upsert_large"], ["delete_small", "upsert_small"]
    assert wl.warm_rounds == 2
    assert writes[:2 + wl.min_rounds] == [small, large, small, large, small]
    assert min(sizes) >= n - 2 * (wl.LARGE_DELETE + max(wl.SMALL))
    # every read's expected rows follow the replay at its position
    wl2 = workloads.BucketedMutations(None, str(tmp_path), str(tmp_path), seed=2)
    wl2.first_pass()
    for r in wl2.next_round():
        if not r.is_write:
            assert all(row[0] in range(wl2.model.n) for row in r.expect)


def test_analytics_round_calls_each_module_and_fills_the_tail():
    wl = workloads.BatchAnalytics(None, "unused", "unused", seed=1)
    rnd = wl.next_round()
    assert {r.module for r in rnd} == {
        "operators.analytics", "pipeline.similarity", "pipeline.dedup"}
    assert wl.min_rounds * len(rnd) == 24
    assert {r.kind for r in wl.first_pass()} == set(wl.QUERIES)


def test_benchmark_workloads_call_every_layer_module(bench):
    modules = {r.module for r in workloads.GraphLookups(
        None, "unused", "unused", seed=1).next_round()}
    modules |= set(workloads.BatchAnalytics.QUERIES.values())
    modules.add("mutate.bucketed")
    assert modules == set(run.LAYER_MODULES)
    assert [w["name"] for w in bench["workloads"]] == [
        "graph_lookups", "batch_analytics", "bucketed_mutations"]

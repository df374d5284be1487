"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The smoke tests start one local SparkSession and run every workload
once at tiny sizes, with tracing on, through the same code path as
``run.py``; they take a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen, workloads
from perfbench.oracle import diff_rows
from perfbench.trace import Span, self_times, tail, union_length

TINY = gen.SourceSize(customers=60, orders=600, lineitems=2_400, parts=80, suppliers=8)
TINY_CHURN = gen.ChurnPlan(base_rows=3_000, base_files=3, small_rows=50, large_rows=600,
                           hot_keys=1_200)


def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        gen.write_sources(str(d), seed, TINY)
        gen.write_churn_base(str(d), seed, TINY_CHURN)
        for i in range(3):
            gen.write_churn_batch(str(d), seed, TINY_CHURN, i)
    names = _files(a)
    assert names == _files(b) == _files(c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert set(differ) == set(names)


def test_generator_matches_testdata_types(tmp_path):
    paths = gen.write_sources(str(tmp_path), 1, TINY)
    want = {
        "customer": "c_custkey: int64, c_name: string, c_nationkey: int32, "
                    "c_acctbal: double, c_mktsegment: string",
        "orders": "o_orderkey: int64, o_custkey: int64, o_orderstatus: string, "
                  "o_totalprice: double, o_orderdate: timestamp[us], o_orderpriority: string",
        "lineitem": "l_orderkey: int64, l_partkey: int64, l_suppkey: int64, "
                    "l_linenumber: int32, l_quantity: double, l_extendedprice: double, "
                    "l_discount: double, l_tax: double, l_returnflag: string, "
                    "l_linestatus: string, l_shipdate: timestamp[us]",
    }
    for name, path in paths.items():
        schema = pq.read_schema(path)
        got = ", ".join(f"{f.name}: {f.type}" for f in schema)
        assert got == want[name]
        assert schema.metadata is None  # no pandas metadata in the files


def test_churn_batches_upsert_recent_keys(tmp_path):
    base = gen.write_churn_base(str(tmp_path), 3, TINY_CHURN)
    assert sum(pq.read_metadata(p).num_rows for p in base) == TINY_CHURN.base_rows
    seen = TINY_CHURN.base_rows
    for i in range(4):
        keys = pq.read_table(gen.write_churn_batch(str(tmp_path), 3, TINY_CHURN, i))["k"]
        keys = keys.to_pylist()
        assert len(keys) == len(set(keys)) == gen.churn_batch_rows(TINY_CHURN, i)
        updates = [k for k in keys if k < seen]
        assert len(updates) == int(len(keys) * TINY_CHURN.update_share)
        assert min(updates) >= seen - max(len(updates), TINY_CHURN.hot_keys)
        seen += len(keys) - len(updates)


def test_tail_rule():
    xs = [float(i) for i in range(1, 21)]  # 20 samples
    pct, value = tail(xs)
    assert value == 10.0 and pct == 0.5
    assert sum(x > value for x in xs) == 10
    assert tail(xs[:10]) is None  # no percentile has ten samples beyond it
    pct, value = tail(list(reversed(xs[:11])))
    assert value == 1.0 and pct == pytest.approx(1 / 11)
    xs = [float(i) for i in range(1000)]
    pct, value = tail(xs)
    assert pct == 0.99 and value == 989.0


def test_self_time_with_overlapping_children():
    spans = [
        Span(0, "parent", "a", None, 0.0, 10.0),
        Span(1, "c1", "b", 0, 1.0, 4.0),
        Span(2, "c2", "b", 0, 3.0, 6.0),  # overlaps c1 by one second
        Span(3, "c3", "b", 0, 8.0, 9.0),
        Span(4, "c4", "b", 0, 9.5, 12.0),  # runs past the parent's end
        Span(5, "grandchild", "c", 1, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0 + 0.5))
    assert st[1] == pytest.approx(2.5)
    assert st[2] == pytest.approx(3.0)
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)


def test_round_half_tie_is_the_only_tolerated_difference():
    cols = ["k", "r"]
    engine, oracle = [(1, 1.03), (2, 0.5), (3, -2.13)], [(2, 0.5), (1, 1.02), (3, -2.12)]
    err, ties = diff_rows(cols, engine, cols, oracle, ties_ok=True)
    assert err is None and ties == 2
    err, _ = diff_rows(cols, engine, cols, oracle)  # exact by default
    assert err is not None
    for e, o in ((1.02, 1.03), (1.04, 1.02), (1.031, 1.021), (-2.12, -2.13)):
        err, _ = diff_rows(cols, [(1, e)], cols, [(1, o)], ties_ok=True)
        assert err is not None, (e, o)
    err, _ = diff_rows(cols, [(1, 1.0)], cols, [(1, 1.0), (1, 1.0)], ties_ok=True)
    assert err is not None


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from ecommerce_dbt_medallion_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def test_every_workload_is_listed():
    assert sorted(workloads.WORKLOADS) == sorted(w["name"] for w in BENCHMARK["workloads"])


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_smoke(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(workloads, "SOURCES", TINY)
    monkeypatch.setattr(workloads, "CHURN", TINY_CHURN)
    monkeypatch.setattr(workloads, "PREPARE_REPEATS", 1)
    res = workloads.execute(spark, name, 5, 0.0, True, str(tmp_path), 0.0)
    assert res["failures"] == [] and res["correct"]
    assert res["attempted"] >= 1 and res["rounds"] == 1
    m = res["metrics"]
    for kind, got in (("per_layer", m), ("end_to_end", res["e2e"])):
        # every listed metric, with its declared unit
        want = {x["name"]: x["unit"] for x in BENCHMARK[kind]}
        units = {k: v["unit"] if isinstance(v, dict) else v[1] for k, v in got.items()}
        assert units == want
    assert m["spark.jobs"]["value"] > 0
    assert 0.9 <= m["trace.layer_share"]["value"] <= 1.0
    if name == "merge_churn":
        assert m["lakehouse.merge_small_jobs"]["value"] > 0
        assert m["sources.load_calls"]["value"] == 0
    else:
        assert m["sources.load_calls"]["value"] > 0

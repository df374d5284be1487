"""Seeded input generator for the benchmark.

Everything the engine reads during a run comes from here, derived from
the seed alone: the TPC-H-shaped ``customer``, ``orders`` and
``lineitem`` sources (same column names and Arrow types as the
engine's testdata, e.g. ``o_orderdate: timestamp[us]``) and the
``merge_churn`` base table plus its MERGE batches.

Files are written with pyarrow under fixed writer options and no pandas
metadata, so the same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WRITE_OPTS = dict(compression="snappy", use_dictionary=True, write_statistics=True)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]

ORDER_DATE_LO = np.datetime64("1995-01-01", "D")
ORDER_DATE_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DATE_DAYS = 2498  # 1995-01-02 .. 2001-11-04


@dataclass(frozen=True)
class SourceSize:
    customers: int
    orders: int
    lineitems: int
    parts: int
    suppliers: int



def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, **_WRITE_OPTS)
    return path


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (as the testdata)."""
    cents = rng.integers(int(lo * 100), int(hi * 100), size=n)
    return cents / 100.0


def _days_to_ts(days: np.ndarray, lo: np.datetime64) -> pa.Array:
    ts = (lo + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(ts, type=pa.timestamp("us"))


def _choice(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.integers(0, len(options), n)],
                    type=pa.string())


def write_sources(out_dir: str, seed: int, size: SourceSize) -> dict[str, str]:
    """Write customer/orders/lineitem parquet files into ``out_dir``.

    Lineitem keeps the testdata's shape: (l_orderkey, l_linenumber)
    pairs may repeat, but (l_suppkey, l_partkey) is unique within each
    pair, so the engine's per-pair payment sequence is deterministic.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_c, n_o = size.customers, size.orders

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_c),
    })

    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": _choice(rng, ORDER_STATUS, n_o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": _days_to_ts(rng.integers(0, ORDER_DATE_DAYS, n_o), ORDER_DATE_LO),
        "o_orderpriority": _choice(rng, PRIORITIES, n_o),
    })

    n_l = size.lineitems
    ok = rng.integers(0, n_o, n_l).astype(np.int64)
    ln = rng.integers(1, 8, n_l).astype(np.int32)
    sk = rng.integers(0, size.suppliers, n_l).astype(np.int64)
    pk = rng.integers(0, size.parts, n_l).astype(np.int64)
    # drop rows repeating (orderkey, linenumber, suppkey, partkey): the
    # payment sequence orders each pair by (suppkey, partkey)
    ident = np.stack([ok, ln.astype(np.int64), sk, pk], axis=1)
    _, first = np.unique(ident, axis=0, return_index=True)
    keep = np.sort(first)
    ok, ln, sk, pk = ok[keep], ln[keep], sk[keep], pk[keep]
    m = len(keep)
    lineitem = pa.table({
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(pk),
        "l_suppkey": pa.array(sk),
        "l_linenumber": pa.array(ln),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, m)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _choice(rng, RETURN_FLAGS, m),
        "l_linestatus": _choice(rng, LINE_STATUS, m),
        "l_shipdate": _days_to_ts(rng.integers(0, SHIP_DATE_DAYS, m),
                                  ORDER_DATE_LO + np.timedelta64(1, "D")),
    })

    return {
        "customer": _write(customer, os.path.join(out_dir, "customer.parquet")),
        "orders": _write(orders, os.path.join(out_dir, "orders.parquet")),
        "lineitem": _write(lineitem, os.path.join(out_dir, "lineitem.parquet")),
    }


# ------------------------------------------------------------ merge churn

CHURN_SCHEMA = pa.schema([
    ("k", pa.int64()),
    ("batch", pa.int32()),
    ("qty", pa.int64()),
    ("price", pa.float64()),
    ("tag", pa.string()),
])
TAGS = ["new", "open", "shipped", "returned", "closed"]


@dataclass(frozen=True)
class ChurnPlan:
    base_rows: int
    base_files: int
    small_rows: int
    large_rows: int
    update_share: float = 0.99
    hot_keys: int = 60_000


def _churn_rows(rng: np.random.Generator, keys: np.ndarray, batch: int) -> pa.Table:
    n = len(keys)
    return pa.table({
        "k": pa.array(keys.astype(np.int64)),
        "batch": pa.array(np.full(n, batch, dtype=np.int32)),
        "qty": pa.array(rng.integers(1, 1000, n).astype(np.int64)),
        "price": pa.array(_money(rng, 1.0, 5000.0, n)),
        "tag": _choice(rng, TAGS, n),
    }, schema=CHURN_SCHEMA)


def churn_batch_rows(plan: ChurnPlan, i: int) -> int:
    """Batch sizes alternate small, large, small, ..."""
    return plan.small_rows if i % 2 == 0 else plan.large_rows


def churn_next_key(plan: ChurnPlan, i: int) -> int:
    """First unused key before batch ``i`` (every batch inserts the
    rows it does not update)."""
    inserted = sum(churn_batch_rows(plan, j) - int(churn_batch_rows(plan, j) * plan.update_share)
                   for j in range(i))
    return plan.base_rows + inserted


def write_churn_base(out_dir: str, seed: int, plan: ChurnPlan) -> list[str]:
    """The base table's rows as ``base_files`` key-range files, one per
    initial load."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    bounds = np.linspace(0, plan.base_rows, plan.base_files + 1).astype(np.int64)
    paths = []
    for f in range(plan.base_files):
        keys = np.arange(bounds[f], bounds[f + 1], dtype=np.int64)
        paths.append(_write(_churn_rows(rng, keys, 0),
                            os.path.join(out_dir, f"base-{f:03d}.parquet")))
    return paths


def write_churn_batch(out_dir: str, seed: int, plan: ChurnPlan, i: int) -> str:
    """MERGE batch ``i``, from the seed and ``i`` alone.

    It updates ``update_share`` of its rows, drawn from the ``hot_keys``
    most recent keys (updates favour recent keys; older keys go cold),
    and inserts the rest as new keys above the current maximum. Keys are
    unique within a batch. The hot set has a fixed size, so the work a
    commit does stays level as the table grows.
    """
    rng = np.random.default_rng([seed, 2, i])
    n = churn_batch_rows(plan, i)
    n_upd = int(n * plan.update_share)
    next_key = churn_next_key(plan, i)
    upd = next_key - 1 - rng.choice(max(n_upd, plan.hot_keys), size=n_upd, replace=False)
    ins = np.arange(next_key, next_key + (n - n_upd), dtype=np.int64)
    keys = np.concatenate([np.sort(upd), ins])
    return _write(_churn_rows(rng, keys, i + 1), os.path.join(out_dir, f"batch-{i:04d}.parquet"))


def probe_keys(seed: int, max_key: int, n: int) -> list[int]:
    """Point-lookup keys for one read: mostly recent keys, a few old and
    one that does not exist."""
    rng = np.random.default_rng([seed, 3, max_key])
    recent = max_key - rng.integers(0, max(1, max_key // 20), n - 2)
    old = rng.integers(0, max(1, max_key // 2), 1)
    return sorted({int(x) for x in np.concatenate([recent, old])} | {max_key + 1})

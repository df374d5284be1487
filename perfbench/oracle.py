"""Correctness checks, run in DuckDB outside every timer.

- Batch outputs are compared with the engine's own
  ``api.oracle_sql()`` statements, run over the generated sources.
- ``merge_churn`` reads are compared with an independent replay of the
  base loads and every MERGE batch in DuckDB.

Rows are compared as multisets of canonical tokens; floating-point
values are rounded to 9 significant digits first, because the two
engines may sum in a different order.
"""

from __future__ import annotations

import datetime
import math
import os
from collections import Counter
from decimal import Decimal

import duckdb

SOURCE_TABLES = ("customer", "orders", "lineitem")


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return f"{f:.9g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if v.time() == datetime.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _two_dp(tok: str) -> float | None:
    """The value of a token that reads as a number with at most two
    decimals (the shape of a ``round(x, 2)`` result), else None."""
    try:
        f = float(tok)
    except ValueError:
        return None
    return f if abs(f * 100 - round(f * 100)) < 1e-6 else None


def _round_tie(engine: tuple, oracle: tuple) -> bool:
    """Rows equal except in two-decimal values where the engine's value
    exceeds the oracle's in magnitude by exactly one unit (0.01).

    This is the one known divergence between the engine and its DuckDB
    oracle: for a value exactly halfway between two cents (e.g. 41/40 =
    1.025), Spark's ``round`` rounds the shortest decimal rendering half
    up, away from zero (1.03), while DuckDB rounds the binary double,
    which sits just inside the tie (1.02). Such rows are reported, not
    failed; any other difference still fails.
    """
    tie = False
    for x, y in zip(engine, oracle):
        if x == y:
            continue
        fx, fy = _two_dp(x), _two_dp(y)
        if fx is None or fy is None or fx * fy < 0 or abs(abs(fx) - abs(fy) - 0.01) > 1e-9:
            return False
        tie = True
    return tie


def diff_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b,
              ties_ok: bool = False) -> tuple[str | None, int]:
    """Compare an engine result (``a``) with the expected one (``b``) as
    multisets of rows (any row or column order).

    Returns (difference or None, number of rows that matched only up to
    a round-half tie). Ties are matched only with ``ties_ok``, see
    :func:`_round_tie`; otherwise every value must be equal.
    """
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}", 0
    order = sorted(cols_a)
    ia = [cols_a.index(c) for c in order]
    ib = [cols_b.index(c) for c in order]
    ca = Counter(tuple(canon(r[i]) for i in ia) for r in rows_a)
    cb = Counter(tuple(canon(r[i]) for i in ib) for r in rows_b)
    only_a = list((ca - cb).elements())
    only_b = list((cb - ca).elements())
    ties = 0
    for row in list(only_a) if ties_ok else ():
        match = next((o for o in only_b if _round_tie(row, o)), None)
        if match is not None:
            only_a.remove(row)
            only_b.remove(match)
            ties += 1
    if not only_a and not only_b:
        return None, ties
    return (f"{sum(ca.values())} vs {sum(cb.values())} rows; "
            f"engine-only {only_a[:2]}; oracle-only {only_b[:2]}"), ties


class Oracle:
    """A DuckDB connection with the generated sources registered under
    the names the oracle SQL expects."""

    def __init__(self, src_dir: str):
        self.ties = 0
        self.con = duckdb.connect()
        for name in SOURCE_TABLES:
            path = os.path.join(src_dir, f"{name}.parquet")
            self.con.execute(f"create view {name} as select * from read_parquet('{path}')")

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), rel.fetchall()

    def check(self, label: str, sql: str, cols: list[str], rows) -> str | None:
        oc, orows = self.query(sql)
        d, ties = diff_rows(cols, rows, oc, orows, ties_ok=True)
        self.ties += ties
        return None if d is None else f"{label}: {d}"

    def check_parquet(self, label: str, sql: str, path: str) -> str | None:
        """Compare a parquet output (file or hive-partitioned directory)."""
        src = os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path
        cols, rows = self.query(
            f"select * from read_parquet('{src}', hive_partitioning=true, "
            "hive_types_autocast=false)"
        )
        return self.check(label, sql, cols, rows)


# ------------------------------------------------------------ merge replay

CHECKSUM_SQL = "count(*), coalesce(sum(k), 0), coalesce(sum(qty), 0), coalesce(sum(batch), 0)"


class ChurnReplay:
    """Independent replay of a churn table's history in DuckDB: an
    ``append`` inserts a file's rows, a ``merge`` deletes the rows whose
    key is in the batch and inserts the batch (upsert)."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(
            "create table t (k bigint, batch integer, qty bigint, price double, tag varchar)"
        )

    def close(self) -> None:
        self.con.close()

    def apply(self, op: str, path: str) -> None:
        src = f"read_parquet('{path}')"
        if op == "merge":
            self.con.execute(f"delete from t where k in (select k from {src})")
        elif op != "append":
            raise ValueError(op)
        self.con.execute(f"insert into t select k, batch, qty, price, tag from {src}")

    def checksum(self) -> tuple:
        return tuple(int(x) for x in self.con.sql(f"select {CHECKSUM_SQL} from t").fetchone())

    def rows_for(self, keys: list[int]) -> tuple[list[str], list[tuple]]:
        ks = ",".join(str(int(k)) for k in keys)
        rel = self.con.sql(f"select * from t where k in ({ks})")
        return list(rel.columns), rel.fetchall()

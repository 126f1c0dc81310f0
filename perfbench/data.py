"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` and a size: the same
seed writes byte-identical files, so a run can repeat its own input
generation and compare digests.

- :func:`write_tpch` writes the seven TPC-H-style tables the registry
  queries read (same column names and Parquet types as the engine's
  test data, value domains chosen so every query returns rows).
- :func:`write_part` writes a ``part`` table of products for the ETL
  workload; :func:`write_landing` renders it into the day-1 and day-2
  crawl CSVs through the registry's dirty-feed fragments.
- :func:`corpus_ids` picks the payload ids of the archive corpus.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_EPOCH = datetime.date(1970, 1, 1)
_ORDER_START = (datetime.date(1995, 1, 1) - _EPOCH).days
_ORDER_END = (datetime.date(2001, 8, 1) - _EPOCH).days


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_to_ts(days: np.ndarray) -> pa.Array:
    micros = days.astype(np.int64) * 86_400_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def _part_table(rng: np.random.Generator, n: int) -> pa.Table:
    names = [
        f"{ADJECTIVES[a]} {NOUNS[b]}"
        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
    ]
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": pa.array([TYPES[t] for t in rng.integers(0, len(TYPES), n)]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(rng.integers(9000, 10000, n) / 10, 1)),
        }
    )


def write_tpch(out_dir: str, seed: int, sf: float) -> None:
    """The seven TPC-H-style tables at scale factor ``sf`` (sf 0.01 is
    1,500 customers, 2,000 parts, 15,000 orders, 60,000 lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    os.makedirs(out_dir, exist_ok=True)

    def path(name: str) -> str:
        return os.path.join(out_dir, f"{name}.parquet")

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(list(REGIONS)),
            }
        ),
        path("region"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(rng.integers(0, 5, 25).astype(np.int32)),
            }
        ),
        path("nation"),
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(
                    [SEGMENTS[s] for s in rng.integers(0, len(SEGMENTS), n_cust)]
                ),
            }
        ),
        path("customer"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        path("supplier"),
    )
    part = _part_table(rng, n_part)
    _write(part, path("part"))

    order_days = rng.integers(_ORDER_START, _ORDER_END + 1, n_ord)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": pa.array(
                    [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)]
                ),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days_to_ts(order_days),
                "o_orderpriority": pa.array(
                    [PRIORITIES[p] for p in rng.integers(0, len(PRIORITIES), n_ord)]
                ),
            }
        ),
        path("orders"),
    )

    l_order = np.sort(rng.integers(0, n_ord, n_li))
    linenumber = np.ones(n_li, dtype=np.int32)
    for i in range(1, n_li):
        if l_order[i] == l_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = part.column("p_retailprice").to_numpy()[l_part]
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order.astype(np.int64)),
                "l_partkey": pa.array(l_part.astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
                "l_linenumber": pa.array(linenumber),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(
                    np.round(qty * price * rng.uniform(0.9, 1.1, n_li), 2)
                ),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
                "l_returnflag": pa.array(
                    [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)]
                ),
                "l_linestatus": pa.array([("F", "O")[f] for f in rng.integers(0, 2, n_li)]),
                "l_shipdate": _days_to_ts(order_days[l_order] + rng.integers(1, 122, n_li)),
            }
        ),
        path("lineitem"),
    )


def write_part(out_dir: str, seed: int, n_products: int) -> str:
    """A ``part`` table of ``n_products`` products for the ETL feed."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "part.parquet")
    _write(_part_table(np.random.default_rng([seed, 2]), n_products), path)
    return path


def write_landing(part_path: str, out_dir: str) -> tuple[str, str]:
    """Render the day-1 and day-2 crawl CSVs from ``part`` through the
    registry's dirty-feed fragments (DuckDB runs the same SQL text as
    the ``pipeline_two_day`` oracle). Day 2 reprices every third
    product and adds one new product per 20 parts."""
    import duckdb

    from datawarehouseproject_spark.plans.queries_ref import (
        DIRTY2_SELECT,
        DIRTY_SELECT,
        NEW_PRODUCTS_SELECT,
    )

    day1 = os.path.join(out_dir, "day1", "products_raw_2024_01_05.csv")
    day2 = os.path.join(out_dir, "day2", "products_raw_2024_01_06.csv")
    for p in (day1, day2):
        os.makedirs(os.path.dirname(p), exist_ok=True)
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW part AS SELECT * FROM read_parquet('{part_path}')")
        con.sql(
            f"COPY (SELECT {DIRTY_SELECT} FROM part ORDER BY ID) TO '{day1}' (HEADER)"
        )
        con.sql(
            f"COPY (SELECT {DIRTY2_SELECT} FROM part UNION ALL "
            f"SELECT {NEW_PRODUCTS_SELECT} FROM part WHERE p_partkey % 20 = 0 "
            f"ORDER BY ID) TO '{day2}' (HEADER)"
        )
    finally:
        con.close()
    return day1, day2


def corpus_ids(seed: int, n: int) -> list[int]:
    """``n`` distinct payload ids drawn from the seed."""
    return sorted(random.Random(seed).sample(range(1, 1_000_000), n))


def tree_digest(root: str) -> str:
    """Digest of every file's relative path and bytes under ``root``
    (Spark's ``_SUCCESS`` markers and ``.crc`` side files excluded)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) on disk under ``root``."""
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size

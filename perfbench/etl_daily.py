"""``etl_daily``: the nightly pipeline, cold.

Set-up renders a seeded ``part`` table of products into the day-1 and
day-2 crawl CSVs and builds the day-1 warehouse once, in a fresh
process. One op copies that warehouse to a fresh root (untimed),
then spawns a fresh Python + JVM process (``etl_child.py``) that runs
day 2 into it, the way ``run_all.bat`` launches the pipeline each
night; the op is timed from spawn to exit, and its CPU seconds are
those of the child process and everything it starts.

After each op, untimed: the monthly mart must equal the
``pipeline_two_day`` oracle run in DuckDB over the same ``part``
table, and ``PRODUCT_SK`` must be unique in ``dim_product``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from data import tree_bytes, tree_digest, write_landing, write_part
from harness import BENCH
from spans import attribute_jobs, event_log_file, read_event_log

#: Products in the feed (the sf 0.1 ``part`` row count).
N_PRODUCTS = 20_000
#: Timed ops per run at least, however short ``--seconds`` is.
MIN_TIMED = 3
DAY1 = ("2024-01-05", "2024-01-05 21:30:00")
DAY2 = ("2024-01-06", "2024-01-06 21:30:00")
CHILD_TIMEOUT_S = 600

MART_SQL = """
SELECT DATE_SK, PRODUCT_SK, BRAND_SK, ID_CONFIG, CALENDAR_YEAR, CALENDAR_MONTH,
       CAST(MAX_PRICE AS DOUBLE) AS MAX_PRICE, CAST(MIN_PRICE AS DOUBLE) AS MIN_PRICE,
       CAST(AVG_PRICE AS DOUBLE) AS AVG_PRICE
FROM read_parquet('{root}/mart/dm_product_daily_price/*.parquet')
"""
DIM_SQL = """
SELECT count(*), count(DISTINCT PRODUCT_SK), count(DISTINCT LINK)
FROM read_parquet('{root}/warehouse/dim_product/*.parquet')
"""


def _child(r, root, csv: str, day: tuple[str, str], tag: str, spans: str | None) -> None:
    """Run one pipeline day in a fresh process; raise unless it
    committed the day."""
    etl = r.work / "etl"
    env = r.child_env(
        conf_dir=etl / f"conf-{tag}",
        event_dir=etl / f"events-{tag}" if spans else None,
    )
    cmd = [sys.executable, str(BENCH / "etl_child.py"), str(root), csv, *day]
    if spans:
        cmd.append(spans)
    rc = subprocess.run(
        cmd, env=env, stdout=sys.stderr, timeout=CHILD_TIMEOUT_S, check=False
    ).returncode
    if rc != 0:
        raise RuntimeError(f"pipeline process for {day[0]} exited with code {rc}")


def run(r) -> tuple[dict, dict]:
    import duckdb

    from datawarehouseproject_spark.plans.registry import oracle_sql

    n = 300 if r.smoke else N_PRODUCTS
    data_root = r.work / "data"

    def generate(k: int) -> str:
        d = data_root / f"gen{k}"
        write_landing(write_part(str(d), r.seed, n), str(d / "landing"))
        return tree_digest(str(d))

    r.repeat_setup("generate_s", generate)
    gen = data_root / "gen0"
    part = str(gen / "part.parquet")
    day1_csv = str(gen / "landing" / "day1" / "products_raw_2024_01_05.csv")
    day2_csv = str(gen / "landing" / "day2" / "products_raw_2024_01_06.csv")
    csv_bytes = os.path.getsize(day2_csv)
    with open(day2_csv, "rb") as fh:
        csv_rows = sum(1 for _ in fh) - 1

    etl = r.work / "etl"
    day1_root = etl / "day1"
    t0 = time.perf_counter()
    _child(r, day1_root, day1_csv, DAY1, "day1", None)
    r.setup["day1_s"] = time.perf_counter() - t0

    con = duckdb.connect()
    con.sql(f"CREATE VIEW part AS SELECT * FROM read_parquet('{part}')")
    oracle = con.sql(oracle_sql()["pipeline_two_day"])
    want = sorted(oracle.fetchall(), key=repr)
    r.notes.update(landing_rows=csv_rows, landing_bytes=csv_bytes, oracle_rows=len(want))
    _sk_check(r, con, day1_root, None)

    op_root = etl / "op"
    spans: list[dict] = []
    while r.keep_timing(1 if r.smoke else MIN_TIMED):
        i = len(r.ops)
        t0 = time.perf_counter()
        shutil.rmtree(op_root, ignore_errors=True)
        shutil.copytree(day1_root, op_root)
        _empty(r.local_dirs)
        prep = time.perf_counter() - t0
        span_file = str(etl / f"spans-{i}.json") if r.trace else None
        start = time.time()
        rec = r.op(
            "timed",
            "run_day",
            lambda: _child(r, op_root, day2_csv, DAY2, str(i), span_file),
        )
        end = time.time()
        if rec["ran"]:
            rec["bytes_per_input_byte"] = tree_bytes(str(op_root))[1] / csv_bytes
            _check(r, con, rec, str(op_root), want)
            if span_file:
                spans += _op_spans(r, i, start, end, span_file)
        t0 = time.perf_counter()
        shutil.rmtree(op_root, ignore_errors=True)
        _empty(r.local_dirs)
        rec["reset_s"] += prep + time.perf_counter() - t0
    con.close()

    metrics = r.end_to_end(lambda o: csv_bytes)
    ops = r.timed()
    metrics["rows_per_cpu_s"] = csv_rows * len(ops) / sum(o["cpu_s"] for o in ops)
    metrics["bytes_per_input_byte"] = statistics.median(
        o["bytes_per_input_byte"] for o in ops
    )
    r.notes["spans"] = spans
    return metrics, {}


def _empty(path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _check(r, con, rec: dict, root: str, want: list) -> None:
    got = sorted(con.sql(MART_SQL.format(root=root)).fetchall(), key=repr)
    missing = len(set(want) - set(got))
    r.checks.append(
        {
            "op": rec["i"],
            "what": "monthly mart = pipeline_two_day oracle",
            "ok": got == want,
            "rows": len(got),
            "oracle_rows": len(want),
            "rows_missing": missing,
        }
    )
    if got != want:
        r.fail_op(
            rec,
            f"monthly mart has {len(got)} rows against the oracle's {len(want)}, "
            f"and {missing} oracle rows are missing from it",
        )
    why = _sk_check(r, con, root, rec["i"])
    if why:
        r.fail_op(rec, why)


def _sk_check(r, con, root, op: int | None) -> str | None:
    """``PRODUCT_SK`` must be unique in ``dim_product``; ``op`` None is
    the day-1 warehouse of set-up. Returns why the check failed."""
    rows, sks, links = con.sql(DIM_SQL.format(root=root)).fetchone()
    r.checks.append(
        {
            "op": op,
            "what": "PRODUCT_SK unique in dim_product",
            "ok": rows == sks,
            "rows": rows,
            "distinct_product_sk": sks,
            "distinct_link": links,
        }
    )
    if rows == sks:
        return None
    return (
        f"dim_product has {rows} rows and {links} distinct LINK but only "
        f"{sks} distinct PRODUCT_SK (duplicate surrogate keys)"
    )


def _op_spans(r, i: int, start: float, end: float, span_file: str) -> list[dict]:
    """The child's spans under one ``op`` root spanning the process
    lifetime, joined to the child's event log; jobs outside any span
    count towards the root."""
    with open(span_file) as fh:
        child = json.load(fh)
    base = 1_000_000 * (i + 1)
    root = {"id": base, "name": "op", "start": start, "end": end, "parent": None, "op": i, "attrs": {}}
    for s in child:
        s["id"] += base + 1
        s["parent"] = base if s["parent"] is None else s["parent"] + base + 1
        s["op"] = i
    jobs = read_event_log(event_log_file(str(r.work / "etl" / f"events-{i}")))
    for j in jobs:
        j.span = base if j.span is None else j.span + base + 1
    out = [root, *child]
    attribute_jobs(out, jobs)
    return out

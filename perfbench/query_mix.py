"""``query_mix``: the 19 TPC-H-style registry queries, warm.

One op is one registry query: built by its registry function over
the seeded tables and forced with the noop sink, in one long-lived
session. Each pass runs every query once, in an order the seed
permutes per pass. The first pass collects every result and checks
it against the query's DuckDB oracle; it and :data:`WARMUP_PASSES`
more passes are warm-up, and then whole passes are timed until
``--seconds`` of op time is reached.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from data import TPCH_TABLES, tree_digest, write_tpch

#: Scale factor of the generated tables (sf 0.01: 60,000 lineitems).
SF = 0.01
#: Noop passes after the check pass before timing starts (README.md).
WARMUP_PASSES = 1
#: Timed passes per run at least, so the warm-up trend compares
#: whole passes.
MIN_TIMED_PASSES = 2
#: Registry modules whose queries make up the mix.
MODULES = ("queries_tpch", "queries_tpch2")


def mix() -> dict:
    """name -> registry function of the 19 TPC-H-style queries."""
    from datawarehouseproject_spark.plans.registry import queries

    return {
        name: fn
        for name, fn in queries().items()
        if fn.__module__.rsplit(".", 1)[-1] in MODULES
    }


def canon(rows, cols: list[str]) -> list[tuple]:
    """Order-insensitive form: columns sorted by lower-cased name,
    every cell as its repr, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(repr(r[i]) for i in order) for r in rows)


def run(r) -> tuple[dict, dict]:
    import duckdb

    from datawarehouseproject_spark.plans.registry import oracle_sql

    spark = r.start_spark()
    data_root = r.work / "data"

    def generate(k: int) -> str:
        d = str(data_root / f"gen{k}")
        write_tpch(d, r.seed, SF / 10 if r.smoke else SF)
        return tree_digest(d)

    r.repeat_setup("generate_s", generate)
    sf_dir = str(data_root / "gen0")

    queries = mix()
    oracles = oracle_sql()
    names = sorted(queries)[:3] if r.smoke else sorted(queries)
    missing = [n for n in names if n not in oracles]
    if missing:
        raise RuntimeError(f"queries without an oracle: {missing}")
    rng = random.Random(r.seed)
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    input_bytes: dict[str, int] = {}
    tracer = r.tracer

    def check(name: str):
        df = queries[name](spark, sf_dir)
        return df, df.collect()

    def query(name: str):
        with tracer.span("query.build"):
            df = queries[name](spark, sf_dir)
        if tracer.enabled:
            with tracer.span("query.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("query.exec"):
            df.write.format("noop").mode("overwrite").save()

    def one_pass(phase: str, p: int) -> None:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            if phase == "check":
                rec = r.op(phase, name, lambda n=name: check(n), pass_=p)
                if rec["ok"]:
                    _check(r, con, oracles[name], rec, input_bytes)
            else:
                r.op(phase, name, lambda n=name: query(n), pass_=p)

    one_pass("check", 0)
    for p in range(1, 1 + WARMUP_PASSES):
        one_pass("warmup", p)
    p = 1 + WARMUP_PASSES
    while r.keep_timing(MIN_TIMED_PASSES * len(names)):
        one_pass("timed", p)
        p += 1
    con.close()

    metrics = r.end_to_end(lambda o: input_bytes.get(o["name"], 0))
    r.notes["passes"] = _pass_times(r)
    return metrics, {}


def _check(r, con, oracle: str, rec: dict, input_bytes: dict) -> None:
    """Compare a check op's rows with its DuckDB oracle (untimed) and
    note the bytes of the files the query reads."""
    df, rows = rec.pop("result")
    input_bytes[rec["name"]] = sum(
        os.path.getsize(f.removeprefix("file://")) for f in df.inputFiles()
    )
    t0 = time.perf_counter()
    res = con.sql(oracle)
    want = canon(res.fetchall(), res.columns)
    got = canon([tuple(x) for x in rows], df.columns)
    ok = got == want and sorted(c.lower() for c in df.columns) == sorted(
        c.lower() for c in res.columns
    )
    r.checks.append(
        {
            "what": f"{rec['name']} = oracle",
            "ok": ok,
            "rows": len(got),
            "oracle_rows": len(want),
            "s": time.perf_counter() - t0,
        }
    )
    if not ok:
        r.fail_op(rec, f"result differs from oracle ({len(got)} vs {len(want)} rows)")


def _pass_times(r) -> list[dict]:
    out: dict[int, list[float]] = {}
    phase: dict[int, str] = {}
    for o in r.ops:
        out.setdefault(o["pass_"], []).append(o["t"])
        phase[o["pass_"]] = o["phase"]
    return [
        {"pass": p, "phase": phase[p], "total_s": sum(ts), "median_s": statistics.median(ts)}
        for p, ts in sorted(out.items())
    ]

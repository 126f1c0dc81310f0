"""dense_ids: identical to a global row_number, without the
single-task window."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from datawarehouseproject_spark.operators.ids import (
    dense_ids,
    running_max,
    running_total,
)
from test_analytics_queries import SF_DIR as SMOKE_SF_DIR


def test_dense_ids_match_global_row_number(spark):
    df = spark.range(0, 10_000).selectExpr(
        "cast(id * 37 % 99991 as long) AS key", "id AS payload"
    )
    got = dense_ids(df, "key", id_col="rk", num_partitions=8)
    expected = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("key").asc())).cast("long")
    )
    assert sorted(map(tuple, got.select("key", "rk").collect())) == sorted(
        map(tuple, expected.select("key", "rk").collect())
    )


def test_dense_ids_offset_and_density(spark):
    df = spark.createDataFrame([(c,) for c in "dcba"], ["k"])
    got = {r["k"]: r["nid"] for r in
           dense_ids(df, "k", id_col="nid", offset=100).collect()}
    assert got == {"a": 101, "b": 102, "c": 103, "d": 104}


def test_running_total_and_max_are_stable_over_sampled_bounds(spark):
    """Regression: running_total and running_max once took local values
    and per-partition totals from two evaluations of one range
    repartition. Over skewed keys whose row order follows a shuffle,
    the sampled range bounds differ between evaluations, and the two
    evaluations run apart whenever the caller keeps a column the totals
    branch prunes. Every evaluation must equal a global window."""
    df = (
        spark.range(0, 24_000, numPartitions=6)
        .repartition(5)
        .selectExpr(
            # unique keys, most of them crowded into the low range
            "cast(pow(id % 4000, 3) as long) * 8 + cast(id / 4000 as long) AS k",
            # rising with k, so a wrong carry-in shows in the prefix max
            "(id % 4000) * 16 + id * 7919 % 13 AS v",
            "repeat('x', cast(id % 7 as int)) AS pad",
        )
    )
    w = Window.orderBy("k")
    total = df.withColumn(
        "out", F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    prev_max = df.withColumn(
        "out", F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    for op, oracle in ((running_total, total), (running_max, prev_max)):
        want = sorted(map(tuple, oracle.select("k", "pad", "out").collect()))
        for _ in range(3):
            got = op(df, "k", "v", out_col="out", num_partitions=8)
            assert sorted(map(tuple, got.select("k", "pad", "out").collect())) == want


# The DuckDB-oracle scale sits next to the smoke scale; the defect
# below does not show on the smaller part table.
SF_DIR = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.01")


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} not present")
def test_pipeline_day_product_keys_match_oracle(spark):
    """Regression: dense_ids once took its local ranks and its
    per-partition counts from two evaluations of one range
    repartition, which disagreed and gave duplicate PRODUCT_SK in the
    daily pipeline's mart. The whole mart must equal its DuckDB
    oracle."""
    import duckdb

    from datawarehouseproject_spark.plans.registry import oracle_sql, queries

    got = queries()["pipeline_day"](spark, SF_DIR)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW part AS SELECT * FROM '{SF_DIR}/part.parquet'")
    want = con.sql(oracle_sql()["pipeline_day"])
    cols = sorted(want.columns)
    rows = sorted(map(repr, (tuple(r[c] for c in cols) for r in got.collect())))
    order = [want.columns.index(c) for c in cols]
    want_rows = sorted(
        map(repr, (tuple(r[i] for i in order) for r in want.fetchall()))
    )
    assert len(rows) == len(want_rows)
    assert rows == want_rows

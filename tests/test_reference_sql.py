"""The reference's OWN stored SQL, executed by this engine.

Extracts the live ``SP_ETL_Clean_Data`` query text from the
reference dump (the WITH TransformedSourceData ... SELECT that MySQL
actually executed, db_staging.sql:4887-4920), pushes it through the
MySQL-dialect shim, runs it with ``spark.sql`` over the golden
239-row crawl — and checks it against BOTH our native operator and
the reference's captured output.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datawarehouseproject_spark.functions.dates import date_dim
from datawarehouseproject_spark.operators.clean import clean_products
from datawarehouseproject_spark.plans.mysql_shim import translate

from tests.test_golden_replay import _rows  # golden dump parser

DUMP = "/root/reference/sql_script/db_staging.sql"
pytestmark = pytest.mark.skipif(
    not os.path.exists(DUMP), reason=f"reference dump {DUMP} is absent"
)


def _reference_query_text() -> str:
    src = open(DUMP, encoding="utf-8").read()
    m = re.search(
        r"(WITH\s+TransformedSourceData.*?FROM TransformedSourceData s);",
        src,
        flags=re.DOTALL,
    )
    assert m, "stored procedure text not found in dump"
    return m.group(1)


@pytest.fixture(scope="module")
def golden_raw(spark):
    general = _rows("products_general")
    return spark.createDataFrame(
        [
            (int(r[0]), r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8], r[9],
             int(r[10]))
            for r in general
        ],
        "ID long, TEN string, LINK string, LINK_ANH string, GIA_CU string, "
        "GIA_MOI string, KICH_THUOC_MAN_HINH string, RAM string, "
        "BO_NHO string, NGAY string, ID_CONFIG int",
    ).withColumn("NGAY", F.to_timestamp("NGAY"))


def test_reference_sql_text_runs_and_matches_engine(spark, golden_raw):
    sql = translate(
        _reference_query_text(),
        view_renames={"db_staging.DIM_DATE": "DIM_DATE"},
    )
    golden_raw.createOrReplaceTempView("PRODUCTS_GENERAL")
    date_dim(spark).select(
        F.col("DATE_SK"), F.col("FULL_DATE")
    ).createOrReplaceTempView("DIM_DATE")

    via_sql = {r["ID"]: r for r in spark.sql(sql).collect()}
    via_ops = {r["ID"]: r for r in
               clean_products(golden_raw, date_dim(spark)).collect()}

    assert set(via_sql) == set(via_ops)
    mismatches = []
    screen_divergences = []
    for pid, s in via_sql.items():
        o = via_ops[pid]
        for col in ("TEN", "LINK", "LINK_ANH", "GIA_CU", "GIA_MOI",
                    "SK_DATE", "ID_CONFIG"):
            if s[col] != o[col]:
                mismatches.append((pid, col, s[col], o[col]))
        # SQL-path RAM/BO_NHO are BIGINT (SIGNED) — compare numerically
        for col in ("RAM", "BO_NHO"):
            if int(s[col]) != int(o[col]):
                mismatches.append((pid, col, s[col], o[col]))
        if s["KICH_THUOC_MAN_HINH"] != o["KICH_THUOC_MAN_HINH"]:
            screen_divergences.append(pid)
    assert not mismatches, mismatches[:10]
    # The stored text's screen-size pattern lost its backslash inside
    # the SQL string literal ('[0-9]*\.?[0-9]+' -> '[0-9]*.?[0-9]+'),
    # so on strings where the number is mid-text it matches ' 6' and
    # the lenient cast yields 0 — the shim faithfully reproduces the
    # deployed text; our operator implements the intended extract
    # (documented divergence, SURVEY §2.7). Only the two dual-screen
    # rows of the captured run are affected.
    assert len(screen_divergences) <= 3, screen_divergences


def test_reference_sql_matches_mysql_captured_output(spark, golden_raw):
    """The shimmed SQL reproduces what MySQL actually produced for
    the captured run (prices, storage, date keys — the screen-size
    column is the documented deployed-pattern divergence)."""
    sql = translate(
        _reference_query_text(),
        view_renames={"db_staging.DIM_DATE": "DIM_DATE"},
    )
    golden_raw.createOrReplaceTempView("PRODUCTS_GENERAL")
    date_dim(spark).select("DATE_SK", "FULL_DATE").createOrReplaceTempView(
        "DIM_DATE"
    )
    via_sql = {r["ID"]: r for r in spark.sql(sql).collect()}

    theirs = {}
    for r in _rows("products_transform"):
        theirs[int(r[1])] = {
            "GIA_CU": Decimal(r[5]), "GIA_MOI": Decimal(r[6]),
            "RAM": int(r[8]), "BO_NHO": int(r[9]), "SK_DATE": int(r[10]),
        }
    mismatches = []
    for pid, t in theirs.items():
        s = via_sql[pid]
        for col in ("GIA_CU", "GIA_MOI", "SK_DATE"):
            if s[col] != t[col]:
                mismatches.append((pid, col, s[col], t[col]))
        for col in ("RAM", "BO_NHO"):
            if int(s[col]) != t[col]:
                mismatches.append((pid, col, s[col], t[col]))
    assert not mismatches, mismatches[:10]

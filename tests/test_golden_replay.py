"""Golden replay: the reference's OWN captured run through our engine.

The reference dump (read-only at /root/reference) embeds a real
crawl: 239 dirty rows in ``products_general`` and their cleaned form
in ``products_transform`` (db_staging.sql:4374-4876). We parse both,
run OUR cleaning stage on the dirty rows, and compare against what
the reference's stored procedure actually produced — the strongest
parity evidence available.

One documented divergence (SURVEY.md §2.7): the deployed screen-size
regex effectively extracted only the integer part ('6.9 inches' ->
6.00); we implement the intended decimal extract (-> 6.90). The test
asserts our value truncates to the reference's, and every other
column matches exactly.
"""

from __future__ import annotations

import math
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datawarehouseproject_spark.functions.dates import date_dim
from datawarehouseproject_spark.operators.clean import clean_products

DUMP = "/root/reference/sql_script/db_staging.sql"
pytestmark = pytest.mark.skipif(
    not os.path.exists(DUMP), reason=f"reference dump {DUMP} is absent"
)


def _parse_values(line: str) -> list:
    """Parse one ``INSERT INTO t VALUES (...);`` row (MySQL dump
    escaping: backslash escapes inside single-quoted strings)."""
    body = line[line.index("(") + 1 : len(line.rstrip().rstrip(";")) - 1]
    vals, cur, in_str, i = [], [], False, 0
    while i < len(body):
        ch = body[i]
        if in_str:
            if ch == "\\" and i + 1 < len(body):
                nxt = body[i + 1]
                cur.append({"n": "\n", "t": "\t", "r": "\r"}.get(nxt, nxt))
                i += 2
                continue
            if ch == "'":
                in_str = False
            else:
                cur.append(ch)
        else:
            if ch == "'":
                in_str = True
            elif ch == "," :
                vals.append("".join(cur))
                cur = []
            elif ch not in " ":
                cur.append(ch)
        i += 1
    vals.append("".join(cur))
    return vals


def _rows(table: str) -> list[list]:
    prefix = f"INSERT INTO `{table}` VALUES"
    out = []
    with open(DUMP, encoding="utf-8") as f:
        buf = None
        for line in f:
            if buf is not None:
                buf += line
                if line.rstrip().endswith(");"):
                    out.append(_parse_values(buf))
                    buf = None
                continue
            if line.startswith(prefix):
                if line.rstrip().endswith(");"):
                    out.append(_parse_values(line))
                else:
                    buf = line
    return out


@pytest.fixture(scope="module")
def golden(spark):
    general = _rows("products_general")
    transform = _rows("products_transform")
    assert len(general) == len(transform) > 200  # the captured 239-row run

    raw = spark.createDataFrame(
        [
            (int(r[0]), r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8], r[9],
             int(r[10]))
            for r in general
        ],
        "ID long, TEN string, LINK string, LINK_ANH string, GIA_CU string, "
        "GIA_MOI string, KICH_THUOC_MAN_HINH string, RAM string, "
        "BO_NHO string, NGAY string, ID_CONFIG int",
    ).withColumn("NGAY", F.to_timestamp("NGAY"))
    ours = {r["ID"]: r for r in clean_products(raw, date_dim(spark)).collect()}

    theirs = {}
    for r in transform:
        theirs[int(r[1])] = {
            "TEN": r[2], "LINK": r[3], "LINK_ANH": r[4],
            "GIA_CU": Decimal(r[5]), "GIA_MOI": Decimal(r[6]),
            "KICH_THUOC_MAN_HINH": Decimal(r[7]),
            "RAM": int(r[8]), "BO_NHO": int(r[9]), "SK_DATE": int(r[10]),
            "ID_CONFIG": int(r[12]),
        }
    return ours, theirs


def test_replay_row_coverage(golden):
    ours, theirs = golden
    assert set(ours) == set(theirs)  # junk filter kept the same rows


def test_replay_exact_columns(golden):
    ours, theirs = golden
    mismatches = []
    for pid, t in theirs.items():
        o = ours[pid]
        for col in ("TEN", "LINK", "LINK_ANH", "GIA_CU", "GIA_MOI", "RAM",
                    "BO_NHO", "SK_DATE", "ID_CONFIG"):
            if o[col] != t[col]:
                mismatches.append((pid, col, o[col], t[col]))
    assert not mismatches, mismatches[:10]


def test_replay_screen_size_documented_divergence(golden):
    """Our intended decimal extract vs the deployed integer-part
    behavior: truncation must reconcile them for every row."""
    ours, theirs = golden
    for pid, t in theirs.items():
        o_val = ours[pid]["KICH_THUOC_MAN_HINH"]
        t_val = t["KICH_THUOC_MAN_HINH"]
        if o_val == Decimal("-1.00"):
            assert t_val == Decimal("-1.00"), (pid, o_val, t_val)
        else:
            assert Decimal(math.floor(o_val)) == t_val, (pid, o_val, t_val)

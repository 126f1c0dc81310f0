"""Golden end-to-end: two daily runs through the full pipeline.

Replays the reference's observed lifecycle (SURVEY.md §5): dirty
landing rows -> clean -> SCD2 -> dims -> aggregate -> marts, across
two days with changed/unchanged/new/junk rows, asserting the
row-count accounting the reference logs per stage.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from datawarehouseproject_spark.catalog import Catalog
from datawarehouseproject_spark.plans.ledger import RunLedger
from datawarehouseproject_spark.plans.pipeline import Pipeline

RAW_SCHEMA = (
    "ID long, TEN string, LINK string, LINK_ANH string, GIA_CU string, "
    "GIA_MOI string, KICH_THUOC_MAN_HINH string, RAM string, BO_NHO string, "
    "NGAY timestamp, ID_CONFIG int"
)


def _raw(spark, day, rows):
    ts = datetime.datetime(2024, 1, day, 21, 0, 0)
    return spark.createDataFrame(
        [(i, *r, ts, 1) for i, r in enumerate(rows, start=1)], RAW_SCHEMA
    )


DAY1 = [
    ("iPhone 15 Pro", "/p/iphone15", "img1", "34.990.000đ", "32.990.000đ", "6.1 inches", "8 GB", "256 GB"),
    ("Samsung Galaxy S24", "/p/s24", "img2", "27.990.000đ", "25.990.000đ", "6.2 inches", "12GB", "512GB"),
    ("Tecno Spark 20", "/p/tecno", "img3", "", "4.290.000đ", "6.6 inches", "", "1 TB"),
    ("x", "", "", "1", "2", "", "", ""),  # junk row (P2 filter)
]

DAY2 = [
    # unchanged
    ("iPhone 15 Pro", "/p/iphone15", "img1", "34.990.000đ", "32.990.000đ", "6.1 inches", "8 GB", "256 GB"),
    # price drop -> SCD2 expire + re-insert
    ("Samsung Galaxy S24", "/p/s24", "img2", "27.990.000đ", "23.990.000đ", "6.2 inches", "12GB", "512GB"),
    # brand-new product
    ("Xiaomi 14", "/p/mi14", "img4", "22.990.000đ", "21.990.000đ", "6.36 inches", "16 GB", "512 GB"),
]


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    cat = Catalog(spark, root)
    ledger = RunLedger(spark, f"{root}/control/process_log")
    pipe = Pipeline(cat, ledger)
    m1 = pipe.run_day(_raw(spark, 1, DAY1), datetime.date(2024, 1, 1),
                      now="2024-01-01 21:30:00")
    m2 = pipe.run_day(_raw(spark, 2, DAY2), datetime.date(2024, 1, 2),
                      now="2024-01-02 21:30:00")
    return cat, pipe, m1, m2


def test_scd2_metrics_match_reference_accounting(warehouse):
    _, _, m1, m2 = warehouse
    # day 1: 3 clean rows (junk filtered), all inserted
    assert m1 == {"rows_input": 3, "rows_inserted": 3, "rows_updated": 0}
    # day 2: 3 input; samsung expired+reinserted; xiaomi new
    assert m2 == {"rows_input": 3, "rows_inserted": 2, "rows_updated": 1}


def test_history_and_current_state(warehouse):
    cat, _, _, _ = warehouse
    hist = cat.table("products_expired", "staging")
    assert hist.count() == 5  # 3 day-1 + samsung v2 + xiaomi
    cur = hist.filter(F.col("EXPIRED_AT") >= F.lit("9999-01-01"))
    assert cur.count() == 4
    sam = cur.filter(F.col("LINK") == "/p/s24").first()
    assert sam["GIA_MOI"] == Decimal("23990000.00")


def test_dims(warehouse):
    cat, _, _, _ = warehouse
    brands = {r["BRAND_NAME"]: r["BRAND_SK"]
              for r in cat.table("dim_brand", "warehouse").collect()}
    assert set(brands) == {"Apple", "Samsung", "Xiaomi", "Khác"}
    prods = {r["LINK"]: r for r in cat.table("dim_product", "warehouse").collect()}
    assert len(prods) == 4
    assert prods["/p/s24"]["MIN_PRICE"] == Decimal("23990000.00")
    assert prods["/p/s24"]["MAX_PRICE"] == Decimal("27990000.00")
    assert prods["/p/tecno"]["BO_NHO"] == 1  # the '1 TB' quirk
    assert prods["/p/tecno"]["RAM"] == -1
    # SK stability: iphone existed day 1, keeps SK 1..3 range assigned then
    assert prods["/p/iphone15"]["PRODUCT_SK"] != prods["/p/mi14"]["PRODUCT_SK"]


def test_aggregate_partitions_and_marts(warehouse):
    cat, _, _, _ = warehouse
    agg = cat.table("aggregate", "warehouse")
    # two DATE_SK partitions (2024-01-01, 2024-01-02)
    assert agg.select("DATE_SK").distinct().count() == 2
    monthly = cat.table("dm_product_daily_price", "mart")
    row = monthly.filter(
        (F.col("CALENDAR_MONTH") == 1)
    ).filter(F.col("MAX_PRICE") == Decimal("27990000.00")).first()
    # midrange mislabeled AVG (quirk 4)
    assert row["AVG_PRICE"] == (row["MAX_PRICE"] + row["MIN_PRICE"]) / 2
    quarterly = cat.table("dm_product_quarterly_trend", "mart")
    assert quarterly.first()["QUARTER_NAME"] == "QQ1"  # quirk 5


def test_once_per_day_guard(spark, warehouse):
    cat, pipe, _, _ = warehouse
    # guard keys on the LOGICAL run date: re-running an already-
    # succeeded backfill date is skipped regardless of wallclock day
    m = pipe.run_day(
        _raw(spark, 2, DAY2), datetime.date(2024, 1, 2), now="2024-01-02 22:00:00"
    )
    assert m == {"skipped": 1}
    # a date that never ran is NOT skipped by the guard (day-3 feed
    # equals day-2 -> no SCD2 changes, nothing inserted)
    m3 = pipe.run_day(
        _raw(spark, 3, DAY2), datetime.date(2024, 1, 3), now="2024-01-03 21:30:00"
    )
    assert m3 == {"rows_input": 3, "rows_inserted": 0, "rows_updated": 0}


def test_ledger_records_real_stage_start_times(warehouse):
    """Every stage record spans its stage: START_TIME is taken when the
    stage begins, so it is strictly before END_TIME."""
    _, pipe, _, _ = warehouse
    rows = pipe.ledger._read().collect()
    for process in ("clean", "transform_scd2", "pipeline"):
        recs = [r for r in rows if r["PROCESS"] == process]
        assert recs, process
        for r in recs:
            assert r["START_TIME"] < r["END_TIME"], (process, r)


def test_scd2_closed_partition_untouched(spark, tmp_path):
    """The daily SCD2 job is O(current): rows expired earlier live in
    the IS_CURRENT=0 partition and their files are never rewritten —
    a later run only appends newly-expired rows there and swaps the
    IS_CURRENT=1 partition (at 100 TB a full-history daily rewrite
    would be the scale-killer)."""
    import glob
    import os

    cat = Catalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(cat)
    pipe.run_day(_raw(spark, 1, DAY1), datetime.date(2024, 1, 1),
                 now="2024-01-01 21:30:00")
    pipe.run_day(_raw(spark, 2, DAY2), datetime.date(2024, 1, 2),
                 now="2024-01-02 21:30:00")  # samsung price drop -> 1 closed row

    hist_path = cat.path("products_expired", "staging")
    closed_glob = os.path.join(hist_path, "IS_CURRENT=0", "*.parquet")
    before = {f: os.stat(f).st_mtime_ns for f in glob.glob(closed_glob)}
    assert before, "day-2 expiry should land in the closed partition"

    day3 = [
        # iphone price drop -> expire v1 + re-insert
        ("iPhone 15 Pro", "/p/iphone15", "img1", "33.990.000đ", "30.990.000đ",
         "6.1 inches", "8 GB", "256 GB"),
        DAY2[1],  # samsung v2 unchanged
        DAY2[2],  # xiaomi unchanged
    ]
    pipe.run_day(_raw(spark, 3, day3), datetime.date(2024, 1, 3),
                 now="2024-01-03 21:30:00")

    after = {f: os.stat(f).st_mtime_ns for f in glob.glob(closed_glob)}
    for f, mtime in before.items():
        assert after.get(f) == mtime, f"closed file rewritten: {f}"
    assert len(after) > len(before), "day-3 expiry should append"

    hist = cat.table("products_expired", "staging")
    assert hist.filter(F.col("IS_CURRENT") == 0).count() == 2
    assert hist.filter(F.col("IS_CURRENT") == 1).count() == 4
    cur_iphone = hist.filter(
        (F.col("IS_CURRENT") == 1) & (F.col("LINK") == "/p/iphone15")
    ).first()
    assert cur_iphone["GIA_MOI"] == Decimal("30990000.00")


def test_multimodal_features(spark):
    from datawarehouseproject_spark.operators.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "aaaa")], ["doc_id", "text"]
    )
    out = {r["media_id"]: r for r in
           extract_media_features(documents_as_media(docs)).collect()}
    assert out[1]["n_bytes"] == 11
    assert out[2]["byte_entropy"] == 0.0  # uniform payload
    assert out[1]["thumb_checksum"] > 0


def test_multimodal_resize_and_frame_sampling(spark):
    import pytest as _pytest
    from datawarehouseproject_spark.operators.multimodal import (
        documents_as_media,
        resize_images,
        sample_frames,
    )

    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    media = documents_as_media(docs)
    resized = resize_images(media, width=8, height=4).collect()
    assert len(resized[0]["payload"]) == 32
    assert (resized[0]["width"], resized[0]["height"]) == (8, 4)

    # frame sampling decodes real AVI payloads (functions/avi.py); a
    # text payload must fail loudly, naming the offending media_id
    with _pytest.raises(Exception, match="media_id=1.*AVI"):
        sample_frames(media).collect()

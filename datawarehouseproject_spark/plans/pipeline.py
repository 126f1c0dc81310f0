"""The 6-stage warehouse pipeline as one Spark application.

The reference's ``run_all.bat`` chain — crawl -> load_staging ->
transform (clean + SCD2) -> load_dwh -> load_aggregate ->
load_datamart — re-expressed as DataFrame stages over a
:class:`..catalog.Catalog`, with ledger guards replacing the batch
file's errorlevel dance (SURVEY.md §3.1). Each stage persists a layer
table; the SCD2 history rewrite uses the atomic temp-path swap.

Scale posture: every stage is a single declarative plan — no per-row
round-trips (the reference's load_dwh does 2 MySQL calls per row,
load_dwh.py:141-227). AGGREGATE and the daily mart are partitioned by
DATE_SK and written with dynamic partition overwrite, so a daily run
touches one partition regardless of history size.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.brands import brand_ladder
from ..functions.cleaning import SCD_OPEN, sentinel_greatest, sentinel_least
from ..functions.dates import date_dim
from ..operators.clean import clean_products
from ..operators.dims import upsert_dim
from ..operators.rollups import monthly_rollup, quarterly_rollup
from ..operators.scd2 import scd2_apply
from ..operators.snapshot import daily_snapshot
from ..sources.parquet import overwrite_atomic
from .ledger import RunLedger, SUCCESS, utc_now


class Pipeline:
    """Daily warehouse run bound to a catalog root."""

    def __init__(self, catalog: Catalog, ledger: RunLedger | None = None):
        self.cat = catalog
        self.spark = catalog.spark
        self.ledger = ledger
        self._dim_date: DataFrame | None = None

    # ---------------- stage 1: dim_date (one-time) ----------------
    def ensure_dim_date(self) -> DataFrame:
        # memoized per Pipeline instance: dim_date is written once and
        # immutable afterwards, but this accessor is hit 3x per
        # run_day (clean, aggregate, marts) and each spark.read
        # re-lists + re-infers the parquet schema — pure plan-time
        # overhead for an unchanging table
        if self._dim_date is not None:
            return self._dim_date
        path = self.cat.path("dim_date", "warehouse")
        # os.path existence probes, not read-and-catch: a failed read
        # attempt logs an async analyzer error from the listener bus
        # (local FS here; a deployment would use the Hadoop FS API)
        if not os.path.exists(path):
            date_dim(self.spark).write.mode("overwrite").parquet(path)
        self._dim_date = self.spark.read.parquet(path)
        return self._dim_date

    # ---------------- stage 2: clean (staging) ----------------
    def clean(self, raw: DataFrame) -> DataFrame:
        """PRODUCTS_GENERAL -> PRODUCTS_TRANSFORM (truncate-reload).

        Row accounting rides the write itself via ``Observation`` —
        the reference's per-stage ROW_COUNT()/rowcount metrics
        (SURVEY §2.4 A5) without a second pass over the data.
        """
        import uuid

        from pyspark.sql import Observation

        start = utc_now()
        # unique name per run: listener registrations are per-name and
        # a reused name throws (benign but noisy) on the second run
        obs = Observation(f"clean_{uuid.uuid4().hex[:8]}")
        out = clean_products(raw, self.ensure_dim_date()).observe(
            obs, F.count(F.lit(1)).alias("rows_out")
        )
        self.cat.write(out, "products_transform", "staging")
        if self.ledger:
            self.ledger.log(
                "clean", SUCCESS, {"rows_out": obs.get["rows_out"]}, start=start
            )
        return self.cat.table("products_transform", "staging")

    # ---------------- stage 3: SCD2 (staging history) ----------------
    def scd2(self, staging: DataFrame, now: str | None = None) -> dict[str, int]:
        """PRODUCTS_EXPIRED maintenance, O(current) per day.

        History is laid out partitioned by ``IS_CURRENT`` so the daily
        job never touches closed rows (the reference's UPDATE hits only
        changed rows, db_staging.sql:4971-4974; a full-history rewrite
        would make the nightly run O(total history) — a 100 TB rewrite
        at scale):

        - the operator runs against the CURRENT partition only (closed
          rows can't join, expire, or re-insert — they're dead weight
          to the algorithm);
        - rows expired today are *appended* to the ``IS_CURRENT=0``
          partition (existing closed files are never rewritten);
        - the new current set atomically replaces the ``IS_CURRENT=1``
          partition directory via the temp-path swap.
        """
        start = utc_now()
        hist_path = self.cat.path("products_expired", "staging")
        cur_path = os.path.join(hist_path, "IS_CURRENT=1")
        current = (
            self.spark.read.parquet(cur_path)
            if os.path.exists(cur_path)
            else None
        )
        res = scd2_apply(staging, current, now=now)
        metrics = res.metrics()  # computed before the swap invalidates lineage
        # 1. newly-closed rows: append-only into the closed partition
        #    (write happens while the old current files are still in
        #    place — the lineage reads them)
        res.expired.withColumn("IS_CURRENT", F.lit(0)).write.mode(
            "append"
        ).partitionBy("IS_CURRENT").parquet(hist_path)
        self.spark.catalog.refreshByPath(hist_path)  # appended files
        # 2. new current set: atomic swap of just the current partition
        open_ts = F.to_timestamp(F.lit(SCD_OPEN))
        new_current = res.history.filter(F.col("EXPIRED_AT") == open_ts)
        overwrite_atomic(new_current, cur_path)
        if self.ledger:
            self.ledger.log("transform_scd2", SUCCESS, metrics, start=start)
        return metrics

    # ---------------- stage 4: dims (warehouse) ----------------
    def load_dims(self) -> tuple[DataFrame, DataFrame]:
        """Current SCD rows -> DIM_BRAND + DIM_PRODUCT (set-based
        replacement of the reference's per-row loop)."""
        hist = self.cat.table("products_expired", "staging")
        # IS_CURRENT is the partition key: the filter prunes the scan
        # to the current partition (closed history is never read).
        # This frame feeds three downstream jobs (brand distinct, the
        # product-updates write, the dim_product write) that would
        # each re-scan history + recompute the brand ladder;
        # localCheckpoint instead of cache (r15, measured — same
        # full-lineage-per-consumer finding as operators/scd2.py)
        current = (
            hist.filter(F.col("IS_CURRENT") == 1)
            .withColumn("BRAND_NAME", brand_ladder("TEN"))
            .localCheckpoint(eager=False)
        )

        brand_path = self.cat.path("dim_brand", "warehouse")
        dim_brand = (
            self.cat.table("dim_brand", "warehouse").withColumn(
                "__ord", F.col("BRAND_NAME")
            )
            if os.path.exists(brand_path)
            else None
        )
        brands = current.select("BRAND_NAME").distinct().withColumn(
            "__ord", F.col("BRAND_NAME")
        )
        dim_brand = upsert_dim(
            dim_brand, brands, ["BRAND_NAME"], "BRAND_SK", order_col="__ord"
        ).drop("__ord").localCheckpoint(eager=False)

        product_updates = (
            current.join(F.broadcast(dim_brand), "BRAND_NAME")
            .select(
                "LINK",
                "TEN",
                "LINK_ANH",
                "KICH_THUOC_MAN_HINH",
                "RAM",
                "BO_NHO",
                sentinel_least("GIA_CU", "GIA_MOI").alias("MIN_PRICE"),
                sentinel_greatest("GIA_CU", "GIA_MOI").alias("MAX_PRICE"),
                "BRAND_SK",
                "ID_CONFIG",
                F.col("ID").alias("__ord"),  # processing order (quirk 11)
            )
        )
        product_path = self.cat.path("dim_product", "warehouse")
        dim_product = (
            self.cat.table("dim_product", "warehouse").withColumn(
                "__ord", F.col("PRODUCT_SK")
            )
            if os.path.exists(product_path)
            else None
        )
        dim_product = upsert_dim(
            dim_product, product_updates, ["LINK"], "PRODUCT_SK", order_col="__ord"
        ).drop("__ord")

        overwrite_atomic(dim_brand.drop("__ord"), self.cat.path("dim_brand", "warehouse"))
        overwrite_atomic(dim_product, self.cat.path("dim_product", "warehouse"))
        return (
            self.cat.table("dim_brand", "warehouse"),
            self.cat.table("dim_product", "warehouse"),
        )

    # ---------------- stage 5: aggregate snapshot ----------------
    def load_aggregate(self, for_date: datetime.date) -> DataFrame:
        dd = self.ensure_dim_date()
        key = dd.filter(F.col("FULL_DATE") == F.lit(for_date)).select(
            "DATE_SK", "CALENDAR_YEAR", "INT_MONTH"
        ).first()
        dim_product = self.cat.table("dim_product", "warehouse")
        snap = daily_snapshot(
            dim_product,
            date_sk=key["DATE_SK"],
            calendar_year=key["CALENDAR_YEAR"],
            calendar_month=key["INT_MONTH"],
        )
        # S8 upsert: dynamic overwrite of just this DATE_SK partition
        snap.write.mode("overwrite").partitionBy("DATE_SK").parquet(
            self.cat.path("aggregate", "warehouse")
        )
        return self.cat.table("aggregate", "warehouse")

    # ---------------- stage 6: marts ----------------
    def load_marts(self) -> tuple[DataFrame, DataFrame]:
        agg = self.cat.table("aggregate", "warehouse")
        dd = self.ensure_dim_date()
        monthly = monthly_rollup(agg)
        quarterly = quarterly_rollup(agg, dd)
        self.cat.write(monthly, "dm_product_daily_price", "mart")
        self.cat.write(quarterly, "dm_product_quarterly_trend", "mart")
        return (
            self.cat.table("dm_product_daily_price", "mart"),
            self.cat.table("dm_product_quarterly_trend", "mart"),
        )

    # ---------------- full daily run ----------------
    def run_day(
        self, raw: DataFrame, for_date: datetime.date, now: str | None = None
    ) -> dict[str, int]:
        """One run_all.bat equivalent: clean -> scd2 -> dims ->
        aggregate -> marts, with a once-per-run-date guard (keyed on
        the LOGICAL ``for_date`` recorded in the ledger MESSAGE, so
        backfill re-runs are idempotent too — a wallclock-day guard
        only dedups same-day reruns)."""
        if self.ledger and self.ledger.succeeded_for("pipeline", for_date):
            return {"skipped": 1}
        start = utc_now()
        staging = self.clean(raw)
        metrics = self.scd2(staging, now=now)
        self.load_dims()
        self.load_aggregate(for_date)
        self.load_marts()
        if self.ledger:
            self.ledger.log(
                "pipeline", SUCCESS, {**metrics, "for_date": str(for_date)}, start=start
            )
        return metrics

"""Daily AGGREGATE snapshot (A3) — dim state stamped with a date.

The reference projects DIM_PRODUCT with today's (DATE_SK,
CALENDAR_YEAR, CALENDAR_MONTH) literals and upserts into AGGREGATE
keyed on (PRODUCT_SK, DATE_SK) (``load_aggregate.py:88-112``). On
immutable Parquet the idiomatic equivalent is *dynamic partition
overwrite*: recompute the DATE_SK partition and swap it — same
one-row-per-(product, date) outcome, no row-level upsert needed, and
at 100 TB it touches exactly one date partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_snapshot(
    dim_product: DataFrame,
    date_sk: int,
    calendar_year: int,
    calendar_month: int,
) -> DataFrame:
    """One AGGREGATE partition: dim state at the given date key."""
    return dim_product.select(
        F.col("BRAND_SK"),
        F.col("PRODUCT_SK"),
        F.col("ID_CONFIG"),
        F.lit(date_sk).cast("int").alias("DATE_SK"),
        F.lit(calendar_year).cast("int").alias("CALENDAR_YEAR"),
        F.lit(calendar_month).cast("int").alias("CALENDAR_MONTH"),
        F.col("MAX_PRICE"),
        F.col("MIN_PRICE"),
    )

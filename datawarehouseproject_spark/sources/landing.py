"""Landing-zone CSV source (S2/S3/S4 of SURVEY.md §2.1).

The reference crawls into ``products_raw_YYYY_MM_DD.csv`` and loads
the newest file by mtime (``load_staging.py:25-32``); the engine's
landing zone is a date-partitioned directory of CSVs read with an
explicit schema (never inferSchema — a schema scan of 100 TB of CSV
is a full extra pass).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Landing schema — the crawl CSV headers (crawl.py:30-35) that the
#: staging load actually consumes (load_staging.py:144-156). All
#: strings by design: cleaning/typing happens in the clean stage.
LANDING_SCHEMA = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("TEN", T.StringType()),
        T.StructField("LINK", T.StringType()),
        T.StructField("LINK_ANH", T.StringType()),
        T.StructField("GIA_CU", T.StringType()),
        T.StructField("GIA_MOI", T.StringType()),
        T.StructField("KICH_THUOC_MAN_HINH", T.StringType()),
        T.StructField("RAM", T.StringType()),
        T.StructField("BO_NHO", T.StringType()),
        T.StructField("NGAY", T.TimestampType()),
        T.StructField("ID_CONFIG", T.IntegerType()),
    ]
)


def latest_landing_path(landing_dir: str, pattern: str = "products_raw_*.csv") -> str:
    """Newest landing file by mtime (S3, load_staging.py:25-32).

    Driver-side metadata operation — fine at any scale (it lists one
    directory; on a real deployment the landing zone is partitioned
    ``dt=YYYY-MM-DD`` and this becomes a partition-path pick)."""
    files = glob.glob(os.path.join(landing_dir, pattern))
    if not files:
        raise FileNotFoundError(f"no landing files under {landing_dir}")
    return max(files, key=os.path.getmtime)


def read_landing_csv(
    spark: SparkSession, path: str, schema: T.StructType = LANDING_SCHEMA
) -> DataFrame:
    """CSV -> DataFrame with the landing schema (S4).

    utf-8 with BOM tolerance (the reference writes utf-8-sig,
    crawl.py:296); header row skipped by name.
    """
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("encoding", "UTF-8")
        .csv(path)
    )


def write_landing_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S2, crawl.py:296-306): header row, UTF-8.

    ``single_file`` coalesces to one part (the reference writes one
    file per day) — only for control-plane-sized data; distributed
    multi-part is the default.
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)

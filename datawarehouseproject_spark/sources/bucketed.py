"""Bucketed tables: co-located joins without a shuffle.

At 100 TB the recurring big-join cost is re-shuffling the same fact
table on the same key every day. Bucketing (hash-partitioned file
layout + catalog metadata) pays that shuffle ONCE at write time;
every subsequent equi-join or aggregation on the bucket key is
shuffle-free (SortMergeJoin with no Exchange).

Spark requires ``saveAsTable`` for bucket metadata (the in-memory /
Hive catalog records bucket spec); plain ``parquet(path)`` writes
lose it. Tables land under ``spark.sql.warehouse.dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    ``sort_cols`` additionally sorts within buckets, upgrading joins
    to zero-sort SortMergeJoin and making range scans on the sort key
    cheap.

    ``path`` makes it an EXTERNAL bucketed table at that location
    (bucket spec is still catalog-recorded). Use it when the default
    warehouse dir may hold a stale location from a previous session —
    a managed-table overwrite can only drop locations the CURRENT
    session's catalog knows about (LOCATION_ALREADY_EXISTS otherwise).

    On ``mode='overwrite'`` (the default) a same-name registration
    from earlier in this session is DROPPED first so the name rebinds
    cleanly — dropping a managed table deletes its data. On
    ``mode='append'`` the existing table is left in place and rows
    are added to it (ADVICE r4: the unconditional drop made append
    silently destroy the table being appended to).
    """
    if mode == "overwrite":
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)

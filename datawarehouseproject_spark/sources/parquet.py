"""Parquet layer sinks: atomic overwrite and partition upsert.

Parquet is immutable — the reference's in-place UPDATE/upsert
(db_staging.sql:4971; load_aggregate.py:103) becomes either a
dynamic partition overwrite (partitioned tables) or a rewrite with a
temp-path swap (the SCD2 history). The swap keeps a reader-consistent
table at all times and makes re-runs idempotent; on a production
filesystem/catalog this is the standard staging-dir + atomic-rename
(or metastore pointer-swap) commit.

:func:`footer_min_max` is the one footer-statistics walk behind the
Delta add-stats and the Iceberg manifest bounds.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _swap_names(path: str) -> tuple[str, str]:
    """Scratch-dir names for the swap: hidden siblings (leading ``_``
    is skipped by Spark's file/partition discovery, so a crashed swap
    never corrupts reads of the parent directory — relevant when
    ``path`` is a single partition dir inside a partitioned table)."""
    parent, base = os.path.split(path.rstrip("/"))
    token = uuid.uuid4().hex[:8]
    return (
        os.path.join(parent, f"_{base}.__tmp_{token}"),
        os.path.join(parent, f"_{base}.__old_{token}"),
    )


def recover_swap(path: str) -> str | None:
    """Startup recovery for a swap interrupted by a crash.

    Deletes orphaned ``_<base>.__tmp_*`` scratch dirs; if ``path``
    itself is missing but a ``_<base>.__old_*`` backup exists (crash
    in the one non-atomic window, between the two renames), restores
    the backup. Returns a description of what it did, or None.
    """
    import glob

    parent, base = os.path.split(path.rstrip("/"))
    did = []
    for tmp in glob.glob(os.path.join(parent, f"_{base}.__tmp_*")):
        shutil.rmtree(tmp)
        did.append(f"dropped {os.path.basename(tmp)}")
    olds = sorted(glob.glob(os.path.join(parent, f"_{base}.__old_*")))
    if olds:
        if not os.path.exists(path):
            os.rename(olds[-1], path)
            did.append(f"restored {os.path.basename(olds[-1])}")
            olds = olds[:-1]
        for old in olds:
            shutil.rmtree(old)
            did.append(f"dropped {os.path.basename(old)}")
    return "; ".join(did) if did else None


def overwrite_atomic(df: DataFrame, path: str) -> None:
    """Rewrite ``path`` with the contents of ``df`` via temp + swap.

    Needed when ``df``'s lineage READS from ``path`` (the SCD2
    read-modify-write): Spark cannot overwrite a path it is reading
    within one job, so we materialize to a hidden ``__tmp`` sibling
    first and swap directories afterwards.

    Crash-safety: a failed write leaves only a hidden scratch dir
    (invisible to Spark listings); the one non-atomic window is
    between the two renames, and :func:`recover_swap` (run here at
    entry) restores the ``__old`` backup if a crash hit it. On a real
    deployment this maps to the standard staging-dir + metastore
    pointer-swap commit, which closes that window too.
    """
    recover_swap(path)
    tmp, old = _swap_names(path)
    df.write.mode("overwrite").parquet(tmp)
    had_prev = os.path.exists(path)
    if had_prev:
        os.rename(path, old)
    os.rename(tmp, path)
    if had_prev:
        shutil.rmtree(old)
    # drop Spark's cached file listing for the swapped path (and any
    # parent-table index that includes it): the session-wide
    # FileStatusCache has no TTL by default, so a later read in the
    # same session would chase the pre-swap file names
    df.sparkSession.catalog.refreshByPath(path)
    df.sparkSession.catalog.refreshByPath(os.path.dirname(path.rstrip("/")))


def compact(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a table into ~target-size files.

    Append-heavy tables (the run ledger, streaming sinks) accumulate
    one file per micro-batch; scan cost then scales with file count,
    not data size. Compaction reads, coalesces to
    ``max(bytes/target_bytes, 1)`` files (or an explicit count), and
    swaps atomically. Returns the new file count.
    """
    import glob

    df = spark.read.parquet(path)
    if target_files is None:
        n_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        target_files = max(n_bytes // target_bytes, 1)
    overwrite_atomic(df.coalesce(int(target_files)), path)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def upsert_partitions(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Replace only the partitions present in ``df`` (S8 upsert).

    Relies on ``spark.sql.sources.partitionOverwriteMode=dynamic``
    (set in :func:`..session.get_spark`)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def footer_min_max(full: str) -> tuple[int, dict]:
    """``(row count, {column: (min, max)})`` from one parquet file's
    footer: row-group min/max folded per top-level column, no data
    read. A row group where the column is all null bounds nothing and
    is passed over; any other row group without min/max (INT96
    timestamps, over-long binaries) leaves the column unbounded, so a
    bound always covers every value in the file. Values are pyarrow's
    statistic scalars, unencoded; an INT32/INT64-backed decimal, whose
    statistic pyarrow cannot lift, is scaled from the raw integers."""
    import decimal
    import json

    import pyarrow.parquet as pq

    md = pq.ParquetFile(full).metadata
    bounds: dict = {}
    unbounded: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in unbounded:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                if st is None or not st.has_null_count \
                        or st.null_count != g.num_rows:
                    unbounded.add(name)
                    bounds.pop(name, None)
                continue
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:
                lt = json.loads(st.logical_type.to_json())
                if lt.get("Type") != "Decimal":
                    unbounded.add(name)
                    bounds.pop(name, None)
                    continue
                lo, hi = (decimal.Decimal(v).scaleb(-lt["scale"])
                          for v in (st.min_raw, st.max_raw))
            if name in bounds:
                blo, bhi = bounds[name]
                lo = lo if lo < blo else blo
                hi = hi if hi > bhi else bhi
            bounds[name] = (lo, hi)
    return md.num_rows, bounds

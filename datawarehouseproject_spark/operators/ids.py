"""Scalable dense ID assignment.

``row_number()`` over a global (unpartitioned) window funnels every
row through ONE task — fine for a day's worth of new dim keys,
deadly for a large backfill. ``dense_ids`` produces the identical
1..N dense ranks with two stages that both parallelize:

1. range-repartition by the order column; rank locally per partition;
2. count rows per partition, prefix-sum the (tiny) counts on the
   driver-side plan, broadcast the offsets back.

The output rank depends only on the global ordering (ties broken by
the caller providing a unique order column), not on where the range
boundaries land, so results are deterministic across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame,
    order_col: str,
    id_col: str = "__id",
    offset: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach ``id_col`` = offset + dense rank of ``order_col``.

    ``order_col`` must be unique (it defines the total order).
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(F.col(order_col).asc())
    # localCheckpoint: the ranks and the per-partition counts must come
    # from ONE evaluation of the range repartition. Evaluated twice,
    # the two can land rows in different partitions (the range bounds
    # are sampled), which duplicated or skipped ids.
    local = ranged.withColumn(
        "__lrank", F.row_number().over(w_local)
    ).localCheckpoint(eager=False)

    counts = local.groupBy("__pid").agg(F.count("*").alias("__n"))
    w_prefix = (
        Window.orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_prefix), F.lit(0)).alias("__offset"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__offset") + F.col("__lrank") + offset).cast("long"))
        .drop("__pid", "__lrank", "__offset")
    )


def running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "__cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach ``out_col`` = inclusive running sum of ``value_col`` in
    ``order_col`` order — the weighted generalization of
    :func:`dense_ids`.

    A bare ``sum() OVER (ORDER BY ...)`` funnels the whole table
    through one task; here stage 1 range-partitions and cumsums
    locally, stage 2 prefix-sums the per-partition TOTALS (one tiny
    row per partition) and broadcasts the offsets back. The result
    depends only on the global order (``order_col`` must be unique),
    not on where range boundaries land.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # one evaluation of the range repartition, as in dense_ids
    local = ranged.withColumn(
        "__lcum", F.sum(value_col).over(w_local)
    ).localCheckpoint(eager=False)

    totals = local.groupBy("__pid").agg(F.sum(value_col).alias("__n"))
    w_prefix = (
        Window.orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_prefix), F.lit(0)).alias("__offset"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__offset") + F.col("__lcum")).cast("long"))
        .drop("__pid", "__lcum", "__offset")
    )


def running_max(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "__runmax",
    num_partitions: int | None = None,
) -> DataFrame:
    """Attach ``out_col`` = EXCLUSIVE prefix max of ``value_col`` in
    ``order_col`` order (NULL for the first row) — the skyline /
    dominance primitive (``pareto_frontier``).

    Same two-stage shape as :func:`running_total`: local exclusive
    prefix-max per range partition, then an exclusive prefix-max over
    the per-partition MAXIMA (one row per partition — the bounded
    frame the plan audit's ``__pid`` idiom recognizes) broadcast back;
    combined = greatest(local, carry-in). ``order_col`` must be
    unique.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    # one evaluation of the range repartition, as in dense_ids
    local = ranged.withColumn(
        "__lmax", F.max(value_col).over(w_local)
    ).localCheckpoint(eager=False)

    totals = local.groupBy("__pid").agg(F.max(value_col).alias("__pmax"))
    w_prefix = (
        Window.orderBy(F.col("__pid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    offsets = totals.select(
        "__pid", F.max("__pmax").over(w_prefix).alias("__carry")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.greatest(F.col("__lmax"), F.col("__carry")))
        .drop("__pid", "__lmax", "__carry")
    )

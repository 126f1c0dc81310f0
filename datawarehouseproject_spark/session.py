"""SparkSession factory with scale-appropriate defaults.

The reference delegates all execution to a single MySQL server
(SURVEY.md §4); here every knob that matters on a real cluster is set
explicitly so the same code runs on local[32] for tests and on a
1000-executor cluster unchanged:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting).
- Dynamic partition overwrite (the upsert replacement — SURVEY §2.1 S8).
- Arrow enabled for the (rare) Pandas-UDF paths.
- Session timezone pinned to UTC so date/timestamp derivations are
  deterministic across environments.
- On ``local[...]`` masters, Python workers fork from
  :mod:`.pydaemon`. Before CPython 3.13, pyspark's stock daemon
  re-reads ``pyspark.zip``'s central directory 16 times at the start
  of every task (~150 ms of CPU); the engine daemon re-reads it only
  when the zip changes. Workers share the driver's filesystem there,
  so the package's parent directory goes on their ``PYTHONPATH``.
- Generated-code cache sized to the query surface
  (``spark.sql.codegen.cache.maxEntries`` = 8192, Spark's default is
  100). One pass over the 19 TPC-H-style queries makes 253-267
  distinct classes and a full registry sweep at sf0.01 makes ~3,770,
  so with 100 entries every warm pass recompiled 216-249 classes
  through Janino and again through the JIT (a second registry pass:
  5,196 compiles at 100 entries, 201 at 8192). Entries are compiled
  classes keyed by their source text: they hold no rows or results.
"""

from __future__ import annotations

import os
import re

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the directory holding this package, for Python workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "datawarehouseproject_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from env
    (``SPARK_GRAFT_CPUS``) so tests and bench share one entry point.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce partitions of cached plans too (SCD2 and
        # dim maintenance cache small scratch frames; without this the
        # cache pins every exchange at the static partition count)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    if re.fullmatch(r"local(\[[^\]]+\])?", master):
        key = "spark.executorEnv.PYTHONPATH"
        paths = [_PACKAGE_PARENT, *SparkConf().get(key, "").split(os.pathsep)]
        builder = builder.config(
            "spark.python.daemon.module", "datawarehouseproject_spark.pydaemon"
        ).config(key, os.pathsep.join(dict.fromkeys(p for p in paths if p)))
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-created session.

    The correctness driver hands us *its* SparkSession; these are
    runtime-settable confs that make results deterministic (UTC) and
    plans scale-appropriate (AQE, dynamic partition overwrite).

    The worker daemon of :func:`get_spark` is a static conf, so
    sessions built elsewhere (the correctness driver,
    ``tools/check_oracle.py --vanilla``) run pyspark's stock daemon:
    each Python task pays the ``pyspark.zip`` re-read, and results are
    identical either way. The codegen cache bound is static too: those
    sessions keep Spark's 100-entry cache, so their results are
    identical and they just recompile generated classes that a
    :func:`get_spark` session compiles once.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
    except Exception:
        pass  # static conf on some builds; best-effort
    return spark

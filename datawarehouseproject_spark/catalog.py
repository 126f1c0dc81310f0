"""Catalog: named access to the engine's table layers.

The reference spreads state over four MySQL databases
(``config.ini:1-23``; SURVEY.md §1.1). Here each layer is a namespace
of Parquet paths; a :class:`Catalog` binds a root directory and hands
out DataFrames. The driver's synthetic TPC-H-ish tables
(``TESTDATA.md``) are exposed through the same interface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Tables the test-data generator materializes per scale factor.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Warehouse layers (the 4-database split of the reference, §1.1).
LAYERS = ("control", "landing", "staging", "warehouse", "mart")


class Catalog:
    """Resolve table names to DataFrames under a root directory.

    ``Catalog(spark, "/root/testdata/sf0.01").table("lineitem")``
    reads ``<root>/lineitem.parquet``. Layered warehouse tables live
    at ``<root>/<layer>/<name>`` (directory-style Parquet, possibly
    partitioned).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def path(self, name: str, layer: str | None = None) -> str:
        if layer is None:
            return f"{self.root}/{name}.parquet"
        return f"{self.root}/{layer}/{name}"

    def table(self, name: str, layer: str | None = None) -> DataFrame:
        return self.spark.read.parquet(self.path(name, layer))

    def write(
        self,
        df: DataFrame,
        name: str,
        layer: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        """Write a layer table; returns the path written.

        ``partition_by`` + session conf
        ``spark.sql.sources.partitionOverwriteMode=dynamic`` gives the
        engine's upsert story: recompute the affected partitions and
        overwrite only those (SURVEY §2.1 S8 — replaces
        ``INSERT ... ON DUPLICATE KEY UPDATE``).
        """
        path = self.path(name, layer)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return path

    def register_views(self, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register flat tables as temp views for the SQL entry point."""
        for name in names:
            p = self.path(name)
            if os.path.exists(p):
                self.spark.read.parquet(p).createOrReplaceTempView(name)


#: Expected column -> dtype per test-data table (TESTDATA.md / FIXTURES.md).
#: ``events.ts`` is polymorphic across generator versions: TIMESTAMP(NANOS)
#: (arrives as ``bigint`` under nanosAsLong) or TIMESTAMP(MICROS) (arrives
#: as ``timestamp``/``timestamp_ntz``); ``load_table`` normalizes either to
#: a microsecond timestamp so downstream plans see one shape.
EXPECTED_SCHEMAS: dict[str, dict[str, tuple[str, ...]]] = {
    "region": {
        "r_regionkey": ("int", "bigint"),
        "r_name": ("string",),
    },
    "nation": {
        "n_nationkey": ("int", "bigint"),
        "n_name": ("string",),
        "n_regionkey": ("int", "bigint"),
    },
    "customer": {
        "c_custkey": ("bigint", "int"),
        "c_name": ("string",),
        "c_nationkey": ("int", "bigint"),
        "c_acctbal": ("double",),
        "c_mktsegment": ("string",),
    },
    "supplier": {
        "s_suppkey": ("bigint", "int"),
        "s_name": ("string",),
        "s_nationkey": ("int", "bigint"),
        "s_acctbal": ("double",),
    },
    "part": {
        "p_partkey": ("bigint", "int"),
        "p_name": ("string",),
        "p_brand": ("string",),
        "p_type": ("string",),
        "p_size": ("int", "bigint"),
        "p_retailprice": ("double",),
    },
    "orders": {
        "o_orderkey": ("bigint", "int"),
        "o_custkey": ("bigint", "int"),
        "o_orderstatus": ("string",),
        "o_totalprice": ("double",),
        "o_orderdate": ("timestamp", "timestamp_ntz", "date"),
        "o_orderpriority": ("string",),
    },
    "lineitem": {
        "l_orderkey": ("bigint", "int"),
        "l_partkey": ("bigint", "int"),
        "l_suppkey": ("bigint", "int"),
        "l_linenumber": ("int", "bigint"),
        "l_quantity": ("double",),
        "l_extendedprice": ("double",),
        "l_discount": ("double",),
        "l_tax": ("double",),
        "l_returnflag": ("string",),
        "l_linestatus": ("string",),
        "l_shipdate": ("timestamp", "timestamp_ntz", "date"),
    },
    "events": {
        "event_id": ("bigint",),
        "ts": ("bigint", "timestamp", "timestamp_ntz"),
        "user_id": ("bigint",),
        "event_type": ("string",),
        "value": ("double",),
        "props": ("string",),
    },
    "documents": {
        "doc_id": ("bigint",),
        "text": ("string",),
        "lang": ("string",),
        "source": ("string",),
        "n_chars": ("bigint",),
    },
    "embeddings": {
        "vec_id": ("bigint",),
        "embedding": ("array<float>", "array<double>"),
        "label": ("int", "bigint"),
    },
}


def _check_schema(name: str, dtypes: dict[str, str]) -> None:
    """Fail fast, with a column-level message, on test-data drift.

    A silent generator change (round 3: ``events.ts`` flipped from
    TIMESTAMP(NANOS) to TIMESTAMP(MICROS)) should produce ONE clear
    error naming the drifted column — not an opaque failure in every
    downstream query.
    """
    expected = EXPECTED_SCHEMAS.get(name)
    if not expected:
        return
    for col, allowed in expected.items():
        got = dtypes.get(col)
        if got is None:
            raise ValueError(
                f"testdata drift: table {name!r} is missing expected column "
                f"{col!r} (has: {sorted(dtypes)})"
            )
        if got not in allowed:
            raise ValueError(
                f"testdata drift: {name}.{col} has dtype {got!r}, expected "
                f"one of {allowed}; the generator's schema changed — update "
                f"catalog.EXPECTED_SCHEMAS / load_table normalization"
            )


#: (applicationId, path, dir-mtime) -> raw file StructType.  Schema
#: METADATA only (what a real catalog/metastore holds) — never row
#: data: with 300+ registry queries each re-reading the same immutable
#: test tables, the per-read footer-inference job is a measurable
#: fixed cost per query (~0.1-0.3s × tables × queries).  The mtime in
#: the key invalidates the memo when a fixture is regenerated at the
#: same path within one session.
_SCHEMA_MEMO: dict[tuple[str, str, float], "object"] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test-data table, normalizing timestamp precision.

    Older generator versions write ``events.ts`` as TIMESTAMP(NANOS),
    which Spark's vectorized Parquet reader rejects; we read nanos as
    long (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild a
    microsecond timestamp — the same truncation DuckDB applies when
    casting TIMESTAMP_NS to its micro-precision TIMESTAMP, so both
    engines see identical values. Newer generators write
    TIMESTAMP(MICROS) directly (arrives as ``timestamp_ntz``); that is
    used as-is, cast to session-local ``timestamp`` for a stable
    downstream dtype. The shim is guarded on the OBSERVED dtype so a
    testdata regeneration cannot break the loader again.

    The raw file schema is memoized per (session, path, mtime) so the
    footer-inference pass runs once per session instead of once per
    query — pure plan-time metadata reuse; every query still computes
    its rows from the parquet files.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (spark.sparkContext.applicationId, path, os.path.getmtime(path))
    except OSError:
        key = None
    schema = _SCHEMA_MEMO.get(key) if key is not None else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    _check_schema(name, dict(df.dtypes))
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

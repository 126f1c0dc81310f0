"""Extended surface: streaming-shaped, star-join, SQL-registry, and
multimodal queries.

The streaming operators run here over batch frames (identical plans;
watermarks only apply on streaming sources), so they get full DuckDB
oracles. The multimodal query is genuinely non-SQL-expressible
(Arrow-batched Python decode) — registered without an oracle, the
driver records a rows-only check.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table as _t
from ..operators.multimodal import (
    documents_as_media,
    extract_audio_features,
    extract_image_features,
    extract_media_features,
    resample_wav,
    resize_bmp,
    sample_frames,
    synthesize_avi_media,
    synthesize_bmp_media,
    synthesize_wav_media,
)
from ..streaming.windows import sessionize_batch, windowed_event_counts
from .registry import register


_SCRATCH_ROOT: str | None = None


def _scratch(name: str) -> str:
    """Per-process scratch path for queries that materialize an
    intermediate layout (ORC/JSON exports, bucketed tables, schema
    generations): ONE root per process, a subdir per query, recreated
    fresh on each call and removed at interpreter exit — repeated
    gate/bench runs no longer leak a new mkdtemp per run (ADVICE r4).
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="dw_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    sub = os.path.join(_SCRATCH_ROOT, name)
    shutil.rmtree(sub, ignore_errors=True)
    return sub


def _utc(spark: SparkSession) -> None:
    # Apply ALL engine runtime confs, not just the timezone: the
    # driver hands us ITS session, and without dynamic partition
    # overwrite the pipeline queries' day-2 partition write would
    # clobber day-1 (caught by driver-simulation verification).
    from ..session import tune_session

    tune_session(spark)


@register(
    "windowed_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("streaming", "window", "watermark"),
)
def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation — the Structured
    Streaming operator evaluated on a batch frame (same plan; the
    watermark binds only on a streaming source)."""
    _utc(spark)
    return windowed_event_counts(_t(spark, sf_dir, "events"), "1 hour")


@register(
    "sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
               OR lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
    tags=("streaming", "sessionization", "stateful"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap): the batch twin of the
    ``applyInPandasWithState`` streaming operator — lag/cumsum over a
    per-user window."""
    _utc(spark)
    return sessionize_batch(_t(spark, sf_dir, "events"), gap_seconds=1800)


@register(
    "star_join",
    oracle="""
    SELECT r_name AS region, n_name AS nation, o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2, 3
    """,
    tags=("J7", "J8", "star-schema"),
)
def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop star join (fact -> dim -> dim -> dim) with all dims
    broadcast — the J7/J8 pattern at warehouse shape."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    customer = F.broadcast(_t(spark, sf_dir, "customer"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


#: The engine's SQL entry point: named SQL texts executed over
#: registered views — the ``sql_commands`` registry made native
#: (SURVEY.md §1.3; transform_staging.py:9-22 loads SQL from a table).
SQL_COMMANDS: dict[str, str] = {
    "TOP_SPENDERS": """
        SELECT o_custkey AS custkey,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_spent
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 10
    """,
}


@register(
    "sql_registry",
    oracle=SQL_COMMANDS["TOP_SPENDERS"],
    tags=("registry", "sql-surface"),
)
def q_sql_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-as-data: run a registered SQL text via ``spark.sql`` over
    temp views — proving the engine answers the same ANSI SQL the
    oracle runs (the stored ``sql_commands`` lifecycle, SURVEY §3.2,
    minus the MySQL-dialect regex surgery)."""
    _utc(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SQL_COMMANDS["TOP_SPENDERS"])


@register(
    "asof_join",
    oracle="""
    WITH err AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'error'),
    clk AS (SELECT event_id AS click_id, user_id, ts, value FROM events
            WHERE event_type = 'click')
    SELECT e.user_id, e.ts, e.event_id,
           c.click_id AS last_click_id,
           c.value AS last_click_value
    FROM err e ASOF LEFT JOIN clk c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    tags=("asof", "time-series", "window"),
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event picks up the user's latest click
    at-or-before it — union+window implementation (linear, one
    shuffle/side) vs DuckDB's native ASOF JOIN as the oracle."""
    _utc(spark)
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("last_click_id"),
        "user_id",
        "ts",
        F.col("value").alias("last_click_value"),
    )
    return asof_join(
        err, clk, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["last_click_id", "last_click_value"],
    )


@register(
    "sales_cube",
    oracle="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    tags=("cube", "grouping-sets"),
)
def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) — multidimensional rollup the
    reference lacks, free via Catalyst (SURVEY §2.4 note)."""
    _utc(spark)
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total",
        )
    )


@register(
    "users_intersect",
    oracle="""
    SELECT user_id FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
    INTERSECT
    SELECT user_id FROM events WHERE CAST(ts AS DATE) > DATE '2024-01-15'
    """,
    tags=("set-ops", "intersect"),
)
def q_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT of first/second-half-of-month user sets (set ops the
    reference lacks; free in Spark)."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    d1 = ev.filter(F.to_date("ts") <= F.lit("2024-01-15")).select("user_id")
    d2 = ev.filter(F.to_date("ts") > F.lit("2024-01-15")).select("user_id")
    return d1.intersect(d2)


@register(
    "percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
           round(avg(o_totalprice), 4) AS mean
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("percentile", "agg"),
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile`
    == ANSI quantile_cont linear interpolation)."""
    _utc(spark)
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
            F.round(F.avg("o_totalprice"), 4).alias("mean"),
        )
    )


@register(
    "session_range_join",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
        CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800
               OR lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
        sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged),
    sessions AS (
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sess_id)
    SELECT p.event_id, p.user_id, s.session_start, s.session_end, s.n_events
    FROM events p JOIN sessions s
      ON p.user_id = s.user_id
     AND p.ts >= s.session_start AND p.ts <= s.session_end
    WHERE p.event_type = 'purchase'
    """,
    tags=("range-join", "interval", "sessionization"),
)
def q_session_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases attributed to their session window —
    bucketized equi-join + residual filter (no nested-loop join) vs a
    plain non-equi join in the oracle."""
    _utc(spark)
    from ..operators.ranges import range_join

    ev = _t(spark, sf_dir, "events")
    sessions = sessionize_batch(ev, gap_seconds=1800)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return range_join(
        purchases, sessions, on=["user_id"], ts_col="ts",
        start_col="session_start", end_col="session_end",
        bucket_seconds=3600,
    ).select("event_id", "user_id", "session_start", "session_end", "n_events")


@register(
    "rollup_cascade",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("continuous-aggregate", "rollup-reuse"),
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern: the daily rollup is computed FROM
    the hourly rollup (sum of partials), not from raw events — the
    hypertable/materialized-rollup reuse shape; the oracle aggregates
    raw events directly, proving the cascade is lossless."""
    _utc(spark)
    hourly = windowed_event_counts(_t(spark, sf_dir, "events"), "1 hour")
    return (
        hourly.groupBy(
            F.to_date("window_start").alias("day"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value"), 2).alias("total_value"),
        )
        .select("day", "event_type", "n_events", F.col("total_value").cast("double").alias("total_value"))
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT o_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1996-03-15'
    GROUP BY o_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("tpch", "multi-join", "topn"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dims, fact join, revenue agg, global
    top-N (TakeOrderedAndProject — no full sort at scale)."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1996-03-15")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            "o_orderkey",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select("o_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "tpch_q5_local_volume",
    oracle="""
    SELECT n_name AS nation,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    GROUP BY n_name
    """,
    tags=("tpch", "star-join"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: multi-way join with a same-nation residual,
    region-filtered, grouped revenue."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") >= F.lit("1996-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = F.broadcast(_t(spark, sf_dir, "supplier"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(nation, supp["s_nationkey"] == nation["n_nationkey"])
        .join(region, nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "moving_average",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS ma5,
           CAST(count(*) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_win
    FROM events
    """,
    tags=("window", "frame", "moving-average"),
)
def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row trailing moving average per user — bounded window frame
    (state = 5 rows per partition regardless of history length)."""
    _utc(spark)
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("ma5"),
        F.count("*").over(w).alias("n_win"),
    )


@register(
    "price_change_lag",
    oracle="""
    SELECT l_partkey, l_orderkey, l_linenumber,
           round(l_extendedprice
                 - lag(l_extendedprice) OVER (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber),
                 2) AS price_delta
    FROM lineitem
    """,
    tags=("window", "lag", "time-series"),
)
def q_price_change_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product price delta vs the previous observation (lag over
    a deterministic time order) — the day-over-day price-change shape
    the reference's marts summarize."""
    _utc(spark)
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("l_extendedprice") - F.lag("l_extendedprice").over(w), 2
        ).alias("price_delta"),
    )


@register(
    "browsing_only_days",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day FROM events
    EXCEPT
    SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'purchase'
    """,
    tags=("set-ops", "except"),
)
def q_browsing_only_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: (user, day) pairs with activity but no purchase —
    set-difference at composite-key granularity."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    active = ev.select("user_id", F.to_date("ts").alias("day"))
    bought = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day")
    )
    return active.subtract(bought)  # EXCEPT (distinct) semantics


@register(
    "above_avg_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(cust_sum AS DOUBLE) AS cust_sum, n_orders
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             sum(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey) AS cust_sum,
             CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
      FROM orders)
    WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n_orders > cust_sum
    """,
    tags=("correlated-subquery", "window"),
)
def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders above the customer's own
    average) decorrelated into one window. The comparison is
    ``price * n > sum`` in exact DECIMAL — float-average ulp noise
    at the membership boundary is impossible by construction."""
    _utc(spark)
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey")
    orders = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.withColumn("cust_sum", F.sum(dec).over(w))
        .withColumn("n_orders", F.count("*").over(w))
        .filter(dec * F.col("n_orders") > F.col("cust_sum"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.col("cust_sum").cast("double").alias("cust_sum"),
            "n_orders",
        )
    )


@register(
    "json_log_payload",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(
             event_id := event_id,
             event_type := event_type,
             n := CAST(1 AS BIGINT))) AS payload
    FROM events
    """,
    tags=("json", "scalar", "control-plane"),
)
def q_json_log_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 json.dumps parity: structured log payloads as
    ``to_json(struct(...))`` — identical rendering in both engines."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                F.lit(1).cast("long").alias("n"),
            )
        ).alias("payload"),
    )


@register(
    "multimodal_features",
    oracle="""
    WITH docs AS (
      SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
    pos AS (
      SELECT media_id, text, n, unnest(generate_series(1, n)) AS i FROM docs),
    byts AS (
      SELECT media_id, n, i, ascii(substr(text, CAST(i AS INTEGER), 1)) AS b
      FROM pos),
    counts AS (
      SELECT media_id, n, b, count(*) AS c FROM byts GROUP BY media_id, n, b),
    ent AS (
      SELECT media_id,
             round(-sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)),
                   6) AS byte_entropy
      FROM counts GROUP BY media_id),
    chk AS (
      SELECT media_id,
             CAST(sum(i * b) AS BIGINT) % 2147483648 AS thumb_checksum
      FROM byts WHERE i <= 64 GROUP BY media_id)
    SELECT d.media_id, CAST(d.n AS BIGINT) AS n_bytes,
           e.byte_entropy, c.thumb_checksum
    FROM docs d JOIN ent e USING (media_id) JOIN chk c USING (media_id)
    """,
    tags=("multimodal", "mapInPandas"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction via Arrow-batched
    mapInPandas (decode stubbed — see operators/multimodal.py).

    The stub's statistics ARE SQL-expressible over this corpus (the
    documents are pure ASCII, so utf-8 bytes == codepoints), which
    buys the mapInPandas path a value-level oracle: n_bytes and the
    positional checksum are integer-exact; byte entropy is rounded to
    6dp on both sides (the float sum order differs between Python's
    counter loop and SQL aggregation).
    """
    _utc(spark)
    media = documents_as_media(_t(spark, sf_dir, "documents"))
    feats = extract_media_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round("byte_entropy", 6).alias("byte_entropy"),
        "thumb_checksum",
    )


# Shared CTE: per-document synthetic image size + the pixel-formula
# channel expressions, mirroring functions/bmp.py synth_size/synth_pixel.
_BMP_SYNTH_SQL = """
    m AS (
      SELECT doc_id AS media_id,
             4 + doc_id % 5 AS w,
             3 + doc_id % 4 AS h
      FROM documents)
"""


@register(
    "bmp_image_features",
    oracle=f"""
    WITH {_BMP_SYNTH_SQL},
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum((media_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id * 11 + x * 2 + y * 13) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id * 3 + x * 17 + y) % 256) AS BIGINT) AS sum_b
    FROM xy
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "bmp"),
)
def q_bmp_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, value-checked: synthesize one 24-bit BMP per
    document (size and pixels are modular arithmetic over doc_id),
    then parse the actual binary format — header fields, bottom-up BGR
    rows, 4-byte row padding — inside Arrow-batched mapInPandas and
    aggregate integer channel sums. The oracle recomputes every sum
    from the pixel formula, so a single stride/byte-order/row-order
    bug in the decoder breaks the hash (VERDICT r3 item 5: de-stub
    extract_media_features)."""
    _utc(spark)
    media = synthesize_bmp_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media)


@register(
    "bmp_rle8_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             16 + (doc_id % 4) * 4 AS w,
             8 + doc_id % 5 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    px AS (
      SELECT media_id, w, h,
             CASE WHEN x >= w - 3 THEN (media_id + x * 7 + y * 11) % 16
                  WHEN ((x // 4) + y + media_id) % 5 = 0 THEN 0
                  ELSE (media_id * 5 + (x // 4) + y * 3) % 16 END AS idx
      FROM xy)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum((idx * 7 + 3) % 256) AS BIGINT) AS sum_r,
           CAST(sum((idx * 13 + 5) % 256) AS BIGINT) AS sum_g,
           CAST(sum((idx * 29 + 11) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "bmp", "rle"),
)
def q_bmp_rle8_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BI_RLE8 palette-BMP decode, value-checked (round 8): the
    run-length-encoded 8-bit profile that screenshots and diagrams
    ship as.  One RLE8 BMP per document (banded index formula; zero
    bands become DELTA escapes, short stretches ABSOLUTE-mode blocks,
    the rest encoded runs — every opcode of the public format,
    including end-of-line and end-of-bitmap markers and absolute-mode
    word alignment), decoded inside Arrow-batched mapInPandas: RLE
    stream -> bottom-up index grid -> 256-entry BGRX color table ->
    RGB channel sums.  The oracle recomputes the sums from the index
    and palette formulas, so one mis-stepped opcode, palette byte
    order, or row flip breaks the hash.  The decoder is additionally
    pinned against the worked example in Microsoft's public
    BITMAPINFOHEADER documentation (``tests/test_bmp_rle8.py``)."""
    _utc(spark)
    from ..operators.multimodal import synthesize_rle8_bmp_media

    media = synthesize_rle8_bmp_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media)


@register(
    "png_image_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             5 + doc_id % 6 AS w,
             4 + doc_id % 5 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum((media_id * 5 + x * 7 + y * 3) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id * 9 + x * 4 + y * 11) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id * 13 + x + y * 19) % 256) AS BIGINT) AS sum_b
    FROM xy
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "png", "compressed"),
)
def q_png_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED image decode, value-checked: synthesize one
    8-bit truecolor PNG per document (pixels from modular arithmetic
    over doc_id, distinct formulas from the BMP family), encoded
    through per-row filters (None/Sub/Up cycle) + DEFLATE — then walk
    the chunk stream, verify CRCs, inflate, un-filter, and aggregate
    integer channel sums inside Arrow-batched mapInPandas
    (``functions/png.py``, stdlib zlib only; VERDICT r4 item 2). The
    oracle recomputes every sum from the pixel formula, so any
    filter/inflate/chunk bug breaks the hash.

    Every 3rd document is Adam7-INTERLACED (round 8 — the
    progressive-delivery layout): seven independently-filtered
    sub-image passes on the 8×8 grid, empty passes omitted, one zlib
    stream. Same pixels, same oracle — a deinterlacing bug anywhere
    (pass geometry, per-pass filter restart, scatter) breaks the
    hash for a third of the rows."""
    _utc(spark)
    from ..operators.multimodal import synthesize_png_media

    media = synthesize_png_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media, codec="png")


@register(
    "png_palette_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             9 + (doc_id % 8) * 2 AS w,
             7 + (doc_id % 7) * 2 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    px AS (
      SELECT media_id, w, h,
             (media_id * 7 + x * 3 + y * 5) % 256 AS i
      FROM xy)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(i) AS BIGINT) AS sum_r,
           CAST(sum((2 * i + 9) % 256) AS BIGINT) AS sum_g,
           CAST(sum(255 - i) AS BIGINT) AS sum_b
    FROM px
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "png", "palette", "adam7"),
)
def q_png_palette_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PALETTE (color type 3) PNG decode, value-checked (round 8):
    the icon/web-graphic profile that dominates real PNG corpora by
    file count — one byte per pixel filtered at bpp=1, a PLTE chunk,
    and a palette gather at the end; every 2nd document is ALSO
    Adam7-interlaced, composing the two round-8 PNG extensions. The
    palette maps index i -> (i, (2i+9)%256, 255-i), so the oracle
    recomputes all three channel sums per cell from the index
    formula; a bpp mixup in the filter distance, a PLTE parse bug,
    or a pass-geometry error each shift sums and break the hash."""
    _utc(spark)
    from ..operators.multimodal import synthesize_palette_png_media

    media = synthesize_palette_png_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media, codec="png")


@register(
    "jpeg_image_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             12 + (doc_id % 4) * 7 AS w,
             10 + (doc_id % 5) * 6 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    px AS (
      SELECT media_id, w, h,
             (media_id * 7 + (x // 8) * 13 + (y // 8) * 29) % 256 AS g
      FROM xy)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(g) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(g) AS BIGINT) AS sum_b
    FROM px
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "jpeg", "lossy", "compressed"),
)
def q_jpeg_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LOSSY-FORMAT image decode, value-checked: synthesize one
    baseline JPEG per document and run the full decode — marker/DQT/
    DHT/SOF0/SOS parse, huffman entropy decode with byte-unstuffing,
    dequantization, un-zigzag, vectorized 8×8 IDCT, level shift,
    YCbCr→RGB — inside Arrow-batched mapInPandas
    (``functions/jpeg.py``, stdlib + numpy only; VERDICT r5 item 5).

    A lossy codec normally can't be value-oracled, so the synthesis
    is chosen to make the loss EXACTLY zero: every 8×8 block is a
    constant gray (DCT is DC-only; AC quantizes to 0), the DC quant
    step is 1 (DC survives quantization exactly), and gray pixels
    keep Cb=Cr=128 through the color transform. The oracle recomputes
    channel sums from the block formula; any huffman/zigzag/IDCT/
    color-transform bug shifts pixels and breaks the hash. The AC
    (non-constant) machinery is pinned by bit-exact quantized-
    coefficient round-trips in ``tests/test_jpeg.py``."""
    _utc(spark)
    from ..operators.multimodal import synthesize_jpeg_media

    media = synthesize_jpeg_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media, codec="jpeg")


@register(
    "jpeg_subsampled_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + (doc_id % 5) * 9 AS w,
             18 + (doc_id % 4) * 11 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    px AS (
      SELECT media_id, w, h,
             (media_id * 11 + (x // 16) * 17 + (y // 16) * 23) % 256 AS g
      FROM xy)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(g) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(g) AS BIGINT) AS sum_b
    FROM px
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "jpeg", "subsampling", "restart"),
)
def q_jpeg_subsampled_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-WORLD-PROFILE JPEG decode, value-checked (VERDICT r6 item
    1): synthesize one 4:2:0-subsampled JPEG WITH restart intervals
    per document — 2×2 luma sampling factors, interleaved MCUs (four
    luma + one Cb + one Cr block per 16×16 MCU), box-filtered chroma
    downsample, RSTn markers every 2 MCUs — and run the full decode
    (general MCU walk, byte-aligned restart consumption with
    modulo-8 sequence checking, DC predictor resets, nearest-
    neighbor chroma upsample) inside Arrow-batched mapInPandas.

    The exactness construction extends the 4:4:4 trick to
    subsampling: every 16×16 MACROBLOCK is a constant gray, so all
    four luma blocks of each MCU are DC-only (exact under DC quant
    step 1), gray keeps Cb=Cr=128 so the box-averaged chroma is the
    constant 128 (DC coefficient exactly 0), and upsampling a
    constant by replication is exact. The oracle recomputes channel
    sums from the macroblock formula; the interleave/restart
    machinery on NON-constant data is pinned by bit-exact quantized-
    coefficient round-trips in ``tests/test_jpeg.py``. Before round
    7 this profile — what virtually every camera/web photo uses —
    raised and quarantined instead of decoding."""
    _utc(spark)
    from ..operators.multimodal import synthesize_jpeg420_media

    media = synthesize_jpeg420_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media, codec="jpeg")


@register(
    "jpeg_progressive_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             22 + (doc_id % 5) * 7 AS w,
             14 + (doc_id % 6) * 9 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    px AS (
      SELECT media_id, w, h,
             (media_id * 13 + (x // 16) * 19 + (y // 16) * 31) % 256 AS g
      FROM xy)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(g) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(g) AS BIGINT) AS sum_b
    FROM px
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "jpeg", "progressive", "restart"),
)
def q_jpeg_progressive_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode, value-checked (VERDICT r7
    item 1 — the last major real-photo profile that previously
    quarantined): synthesize one progressive 4:2:0 JPEG per document
    — a libjpeg-style 10-scan script (interleaved DC scan at Al=1,
    per-band non-interleaved AC first scans, AC refinement with
    correction-bit semantics, DC refinement restoring bit 0, RSTn
    restart markers in every scan) — and run the full multi-scan
    decode (spectral-selection accumulation across scans,
    successive-approximation bit assembly, EOB-run handling) inside
    Arrow-batched mapInPandas.

    The exactness construction extends the 4:2:0 trick to
    successive approximation: constant 16×16 macroblocks are
    DC-only, and ((dc>>1)<<1) | (dc&1) == dc for every two's-
    complement DC value, so the scan pipeline loses nothing and the
    oracle recomputes channel sums from the macroblock formula. The
    refinement machinery on NON-constant data (newly-nonzero
    insertion, correction bits, EOBn runs) is pinned by bit-exact
    coefficient equality vs the baseline encoder and by handcrafted
    EOBn streams in ``tests/test_jpeg.py``."""
    _utc(spark)
    from ..operators.multimodal import synthesize_progressive_jpeg_media

    media = synthesize_progressive_jpeg_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media, codec="jpeg")


@register(
    "jpeg_exif_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           'CAM' || CAST(doc_id % 10 AS VARCHAR) AS make,
           'MODEL-' || CAST(doc_id % 7 AS VARCHAR) AS model,
           CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
           CAST(72 + (doc_id % 4) * 24 AS INTEGER) AS xres_num,
           '2026:08:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
             || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
             || ':00:00' AS datetime,
           CAST(100 * (1 + doc_id % 32) AS INTEGER) AS iso,
           CAST(30 + doc_id % 100 AS INTEGER) AS exposure_den
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "jpeg", "exif", "metadata"),
)
def q_jpeg_exif_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EXIF extraction, value-checked: synthesize a 4:2:0 JPEG
    with an EXIF APP1 segment per document — a genuine TIFF
    structure with id-ALTERNATING byte order (II little-endian for
    even ids, MM big-endian for odd: both code paths run on every
    batch, as on a real mixed-camera corpus), IFD0 holding
    make/model/orientation/resolution/datetime with inline AND
    out-of-line (heap offset) values, and the 0x8769 pointer to the
    Exif sub-IFD carrying ISO and exposure — then parse it all back
    inside Arrow-batched mapInPandas (``functions/exif.py``).

    This is the metadata side of the photo corpus the pixel queries
    (`jpeg_subsampled_features`) cover: orientation histograms,
    camera-model distributions, capture-time partitioning — all read
    a few hundred header bytes per multi-MB photo, so the triage
    pass costs payload fetch, not decode. The oracle recomputes
    every field from the synthesis formulas; a single endianness,
    offset-resolution, or sub-IFD bug breaks the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_exif_metadata,
        synthesize_exif_jpeg_media,
    )

    media = synthesize_exif_jpeg_media(_t(spark, sf_dir, "documents"))
    return extract_exif_metadata(media)


@register(
    "time_travel_diff",
    oracle="""
    WITH v1 AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM events
      WHERE event_type = 'purchase' AND dayofmonth(CAST(ts AS DATE)) <= 15
      GROUP BY 1),
    v2 AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1)
    SELECT coalesce(v2.day, v1.day) AS day,
           v1.revenue AS revenue_v1,
           v2.revenue AS revenue_v2,
           CASE WHEN v1.day IS NULL THEN 'added'
                WHEN v2.day IS NULL THEN 'removed'
                WHEN v1.revenue <> v2.revenue THEN 'changed'
                ELSE 'same' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.day = v2.day
    """,
    tags=("lakehouse", "time-travel", "versioned-table", "snapshot"),
)
def q_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel on a versioned table
    (``sources/versioned.py`` — the lakehouse commit pattern:
    immutable ``v{N}`` directories + an atomically swapped manifest,
    i.e. Delta/Iceberg's mechanism reduced to filesystem
    essentials). The query commits two versions of a daily revenue
    rollup (an early-month load, then the full backfill), reads BOTH
    snapshots back by version number, and diffs them — the
    what-changed-between-runs audit every reproducible training
    pipeline needs ("which feature rows differ from what the model
    saw?"). Readers of v1 are never affected by the v2 commit: the
    writer creates new files only, and the commit is one manifest
    rename — no swap window at all, unlike rewrite-in-place. The
    oracle recomputes both snapshots from the raw events and the
    same full-outer diff."""
    _utc(spark)
    from ..sources.versioned import read_version, write_version

    root = _scratch("versioned_revenue")
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        )
    )
    write_version(daily.filter(F.dayofmonth("day") <= 15), root)
    write_version(daily, root)
    v1 = read_version(spark, root, version=1)
    v2 = read_version(spark, root, version=2)
    a, b = v1.alias("a"), v2.alias("b")
    return a.join(b, F.col("a.day") == F.col("b.day"), "full_outer").select(
        F.coalesce(F.col("b.day"), F.col("a.day")).alias("day"),
        F.col("a.revenue").alias("revenue_v1"),
        F.col("b.revenue").alias("revenue_v2"),
        F.when(F.col("a.day").isNull(), F.lit("added"))
        .when(F.col("b.day").isNull(), F.lit("removed"))
        .when(F.col("a.revenue") != F.col("b.revenue"), F.lit("changed"))
        .otherwise(F.lit("same"))
        .alias("status"),
    )


@register(
    "mp3_stream_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             6 + doc_id % 7 AS n_frames,
             doc_id % 3 AS rate_idx,
             doc_id % 100 AS tag_body
      FROM documents),
    rates AS (
      SELECT media_id, n_frames, tag_body,
             CASE rate_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
                           ELSE 32000 END AS rate
      FROM m),
    frames AS (
      SELECT media_id, n_frames, tag_body, rate,
             unnest(generate_series(0, n_frames - 1)) AS i
      FROM rates),
    per_frame AS (
      SELECT media_id, n_frames, tag_body, rate, i,
             ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])
               [CAST((media_id + i * 5) % 14 AS INT) + 1] AS kbps,
             (media_id + i) % 2 AS pad
      FROM frames)
    SELECT media_id,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(n_frames * 1152 AS BIGINT) AS total_samples,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(sum(kbps) AS BIGINT) AS sum_kbps,
           CAST(sum(pad) AS INTEGER) AS n_padded,
           CAST(10 + tag_body
                + sum((144000 * kbps) // rate + pad) AS BIGINT)
             AS payload_bytes
    FROM per_frame
    GROUP BY media_id, n_frames, rate, tag_body
    """,
    tags=("multimodal", "mapInPandas", "mp3", "frame-walk"),
)
def q_mp3_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-audio structure parse, value-checked: synthesize one
    VBR MPEG-1 Layer III stream per document (ID3v2 tag + id-derived
    bitrate ladder) and walk the actual frame headers — syncsafe tag
    skip, sync verification, bitrate/sample-rate table decode,
    144·kbps/rate+padding length arithmetic — inside Arrow-batched
    mapInPandas (``functions/mpeg_audio.py``). The oracle recomputes
    every statistic INCLUDING the total byte count, so a single
    off-by-one in the frame-length walk (the bug class that silently
    miscounts duration on a real corpus) breaks the hash. Full
    subband/IMDCT PCM decode stays a documented extension point —
    this is the ffprobe-style triage a corpus pipeline actually runs
    at 100 TB."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_stream_structure,
        synthesize_mp3_media,
    )

    media = synthesize_mp3_media(_t(spark, sf_dir, "documents"))
    return extract_stream_structure(media, fmt="mp3")


@register(
    "mpeg1_layer1_subband_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 3 AS n_frames
      FROM documents),
    fr AS (
      SELECT media_id, unnest(generate_series(0, n_frames - 1)) AS frame
      FROM m),
    sb AS (
      SELECT media_id, frame, unnest(generate_series(0, 31)) AS subband
      FROM fr),
    cfg AS (
      SELECT media_id, frame, subband,
             2 + (media_id * 3 + subband * 5 + frame) % 14 AS nb,
             3 * ((media_id + subband + frame) % 21) AS sf_idx
      FROM sb
      WHERE (media_id + subband) % 4 = 0),
    smp AS (
      SELECT media_id, frame, subband, nb, sf_idx,
             unnest(generate_series(0, 11)) AS s
      FROM cfg),
    amp AS (
      SELECT media_id, frame, subband, nb, sf_idx,
             (abs(2 * ((media_id * 13 + subband * 7 + frame * 11 + s * 3)
                       % ((1::BIGINT << nb) - 1))
                  + 2 - (1::BIGINT << nb)) * 4000000)
               // (((1::BIGINT << nb) - 1) * (1::BIGINT << (sf_idx // 3)))
               AS a
      FROM smp)
    SELECT media_id,
           CAST(frame AS INTEGER) AS frame,
           CAST(subband AS INTEGER) AS subband,
           CAST(nb AS INTEGER) AS nb,
           CAST(sf_idx AS INTEGER) AS sf_idx,
           CAST(count(*) AS INTEGER) AS n_samples,
           CAST(sum(a) AS BIGINT) AS sum_amp_micro,
           CAST(max(a) AS BIGINT) AS max_amp_micro
    FROM amp
    GROUP BY media_id, frame, subband, nb, sf_idx
    """,
    tags=("multimodal", "mapInPandas", "mp3", "sample-decode", "audio"),
)
def q_mpeg1_layer1_subband_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-audio SAMPLE decode, value-checked (VERDICT r6 item
    3 — the 'structure only' extension point discharged): synthesize
    one MPEG-1 Layer I mono stream per document and decode the
    actual audio content — frame walk, 4-bit allocation nibbles,
    6-bit scalefactor indices, MSB-first sample codes, and the ISO
    11172-3 requantization s'' = (2·raw + 2 − 2^nb)/(2^nb − 1)
    scaled by the 2·2^(−idx/3) scalefactor — inside Arrow-batched
    mapInPandas. Amplitudes are emitted in integer MICRO-UNITS via
    floor division on non-negative magnitudes (the synthesizer keeps
    scalefactor indices at multiples of 3, making the scalefactor an
    exact power of two), so the DuckDB oracle recomputes every
    amplitude bit-for-bit from the modular synthesis formulas — a
    VALUE oracle where the ADPCM/BPE precedent settled for
    rows-only. Layer I is the fully formulaic profile (no tabulated
    allocation tables); the 512-tap polyphase synthesis window
    (Table 3-B.3, tabulated data) that turns subband samples into
    time-domain PCM remains the one documented extension point —
    subband amplitudes are already the loudness/activity features a
    corpus pipeline aggregates."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_layer1_subband_features,
        synthesize_layer1_media,
    )

    media = synthesize_layer1_media(_t(spark, sf_dir, "documents"))
    return extract_layer1_subband_features(media)


@register(
    "mp3_id3_tags",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS INTEGER)
             AS version,
           'Track ' || CAST(doc_id % 100 AS VARCHAR) AS title,
           'Artist' || CAST(doc_id % 12 AS VARCHAR) AS artist,
           'Album' || CAST(doc_id % 9 AS VARCHAR) AS album,
           CAST(1 + doc_id % 20 AS VARCHAR) AS track,
           CAST(1990 + doc_id % 36 AS VARCHAR) AS year,
           CAST(5 AS INTEGER) AS n_frames
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "mp3", "id3", "metadata"),
)
def q_mp3_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ID3v2 tag extraction, value-checked — the metadata side
    of the audio corpus, symmetric with `jpeg_exif_metadata` for
    photos: synthesize an MPEG stream behind a genuine ID3v2 tag per
    document (TIT2/TPE1/TALB/TRCK text frames plus the
    version-appropriate year frame — TYER on v2.3, TDRC on v2.4 —
    and zero padding), with the tag VERSION alternating by id so
    both frame-size codecs run on every batch (v2.3 plain big-endian
    u32 vs v2.4 syncsafe — the fork that silently corrupts naive
    parsers on real files), then walk it all back inside
    Arrow-batched mapInPandas (``functions/mpeg_audio.py:parse_id3``).
    The audio frame walk behind the tag stays intact
    (`mp3_stream_scan` shares the syncsafe skip arithmetic). Triage
    reads only the leading tag bytes — fetch-bound, not parse-bound,
    at 100 TB. The oracle recomputes every field."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_id3_tags,
        synthesize_id3_mp3_media,
    )

    media = synthesize_id3_mp3_media(_t(spark, sf_dir, "documents"))
    return extract_id3_tags(media)


@register(
    "h264_stream_scan",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(48 + (doc_id % 9) * 2 AS INTEGER) AS width,
           CAST(32 + (doc_id % 7) * 2 AS INTEGER) AS height,
           CAST(66 AS INTEGER) AS profile_idc,
           CAST(30 AS INTEGER) AS level_idc,
           CAST(2 + doc_id % 5 + 3 AS INTEGER) AS n_nal_units,
           CAST(1 AS INTEGER) AS n_idr_slices,
           CAST(2 + doc_id % 5 + 1 AS INTEGER) AS n_slices
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "h264", "nal-walk", "exp-golomb"),
)
def q_h264_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 bitstream structure parse, value-checked:
    synthesize one Annex B stream per document (SPS + PPS + IDR +
    id-derived non-IDR slices, payloads engineered to trigger
    emulation prevention) and walk the actual byte stream —
    start-code scan (3- and 4-byte), 0x000003 unescaping, NAL type
    histogram, and a full exp-Golomb SPS parse recovering the TRUE
    picture dimensions (macroblock counts minus frame cropping; the
    synthesized sizes are deliberately non-multiples of 16) — inside
    Arrow-batched mapInPandas (``functions/h264.py``). The oracle
    recomputes dimensions and NAL counts from the synthesis formulas;
    a bit-alignment error anywhere in the exp-Golomb reader shifts
    every later field and breaks the hash. Slice-level macroblock
    decode stays the documented extension point."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_stream_structure,
        synthesize_h264_media,
    )

    media = synthesize_h264_media(_t(spark, sf_dir, "documents"))
    return extract_stream_structure(media, fmt="h264")


@register(
    "h264_ipcm_frame_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             34 + (doc_id % 6) * 2 AS w,
             18 + (doc_id % 5) * 2 AS h
      FROM documents),
    yx AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x
      FROM m),
    yxy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM yx),
    cx AS (
      SELECT media_id, w, h, unnest(generate_series(0, w // 2 - 1)) AS x
      FROM m),
    cxy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h // 2 - 1)) AS y
      FROM cx),
    ysum AS (
      SELECT media_id,
             sum((media_id * 5 + x * 3 + y * 7) % 256) AS sy
      FROM yxy GROUP BY media_id),
    csum AS (
      SELECT media_id,
             sum((media_id * 11 + x + y * 2) % 256) AS scb,
             sum((media_id * 17 + x * 2 + y) % 256) AS scr
      FROM cxy GROUP BY media_id)
    SELECT m.media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ceil(w / 16.0) * ceil(h / 16.0) AS INTEGER) AS n_mbs,
           CAST(sy AS BIGINT) AS sum_y,
           CAST(scb AS BIGINT) AS sum_cb,
           CAST(scr AS BIGINT) AS sum_cr
    FROM m
    JOIN ysum ON m.media_id = ysum.media_id
    JOIN csum ON m.media_id = csum.media_id
    """,
    tags=("multimodal", "mapInPandas", "h264", "ipcm", "pixel-decode"),
)
def q_h264_ipcm_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 PIXEL decode, value-checked (round 8 — VERDICT r7 item
    3: the honest first pixel path): synthesize one all-I_PCM Annex
    B stream per document — SPS with frame cropping (the fixture
    dims are non-multiples of 16), a spec-complete CAVLC PPS, and an
    IDR slice whose every macroblock is I_PCM (mb_type 25: RAW
    byte-aligned YCbCr samples in the bitstream, ITU-T H.264 §7.3.5
    — no entropy machinery, losslessly) — then run the full decode
    inside Arrow-batched mapInPandas: NAL walk with emulation-
    prevention removal, exp-Golomb SPS/PPS parse, spec-order slice
    header, macroblock-layer walk with pcm alignment bits, raw
    sample extraction into planes, SPS crop, integer plane sums.

    The oracle recomputes every plane sum from the synthesis
    formulas; a single misread exp-Golomb field before the first
    macroblock shifts the alignment of every PCM byte and breaks the
    hash. Full CAVLC/CABAC residual decode remains the documented
    extension point; this query pins the slice/PPS/macroblock
    scaffolding those decoders would extend."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_h264_ipcm_features,
        synthesize_h264_ipcm_media,
    )

    media = synthesize_h264_ipcm_media(_t(spark, sf_dir, "documents"))
    return extract_h264_ipcm_features(media)


@register(
    "jpeg_cross_profile_phash",
    oracle="""
    WITH m AS (
      SELECT doc_id AS d,
             22 + (doc_id % 5) * 7 AS w,
             14 + (doc_id % 6) * 9 AS h
      FROM documents),
    xs AS (
      SELECT d, w, h, unnest(generate_series(0, 6)) AS tx FROM m),
    xy AS (
      SELECT d, w, h, tx, unnest(generate_series(0, 8)) AS ty FROM xs),
    cell AS (
      SELECT d, tx, ty,
             (d * 13 + (((tx * w) // 7) // 16) * 19
              + (((ty * h) // 9) // 16) * 31) % 256 AS gray
      FROM xy),
    means AS (
      SELECT d, CAST(sum(gray) AS BIGINT) // 63 AS mn
      FROM cell GROUP BY d),
    ph AS (
      SELECT c.d,
             CAST(sum(CASE WHEN c.gray >= m.mn
                  THEN 1::BIGINT << (c.ty * 7 + c.tx) ELSE 0 END) AS BIGINT)
               AS phash
      FROM cell c JOIN means m USING (d)
      GROUP BY c.d),
    both_encodings AS (
      SELECT phash, unnest([2 * d, 2 * d + 1]) AS media_id FROM ph)
    SELECT phash,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(media_id) AS BIGINT) AS canonical_id
    FROM both_encodings
    GROUP BY phash
    HAVING count(*) >= 2
    """,
    tags=("multimodal", "dedup", "phash", "jpeg", "progressive",
          "composition"),
)
def q_jpeg_cross_profile_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-DELIVERY-PROFILE content dedup (round 8): every
    document's pixel content is encoded TWICE — baseline 4:2:0 with
    restart intervals, and progressive SOF2 with the 10-scan script
    — producing byte-level-unrelated payloads that must collide on
    the perceptual hash, because both decode paths (interleaved MCU
    walk vs multi-scan spectral/successive-approximation assembly)
    recover the identical pixels. This is the property that makes
    phash the dedup key for a web corpus, where the same image
    circulates re-encoded across profiles; a pixel defect in EITHER
    decode path splits a pair and breaks the hash. The oracle
    computes each document's 63-bit hash once from the macroblock
    formula and expects BOTH encodings in its group (plus cross-
    document formula collisions merging groups)."""
    _utc(spark)
    from ..operators.multimodal import (
        image_phash,
        synthesize_jpeg_profile_pair_media,
    )

    media = synthesize_jpeg_profile_pair_media(
        _t(spark, sf_dir, "documents")
    )
    hashes = image_phash(media, codec="jpeg")
    return (
        hashes.groupBy("phash")
        .agg(
            F.count("*").cast("bigint").alias("n_images"),
            F.min("media_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


@register(
    "media_format_sniff",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 9
             WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' WHEN 2 THEN 'gif'
             WHEN 3 THEN 'webp' WHEN 4 THEN 'flac' WHEN 5 THEN 'tiff'
             WHEN 6 THEN 'zip' WHEN 7 THEN 'parquet'
             ELSE 'sqlite' END AS fmt
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "sniff", "dispatch", "composition"),
)
def q_media_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte FORMAT SNIFFING over an unlabeled mixed corpus
    (round 8): the dispatcher in front of every per-format triage
    scanner — a real crawl does not arrive labeled, and routing each
    payload to the right parser from its leading bytes is the first
    decision the pipeline makes. The fixture rotates id % 9 through
    NINE real synthesizers (4:2:0 JPEG, PNG, GIF89a animation,
    WebP, FLAC, multi-page TIFF, stdlib ZIP incl. the ZIP64 seeds,
    pyarrow parquet, stdlib-serialized SQLite) and the sniffer
    (``functions/sniff.py:sniff_media_format``) must label every
    row correctly — a per-document value check, not just counts.
    The sniffer never raises: ``unknown`` IS the answer for
    unrecognizable bytes (sniffing feeds the quarantine decision,
    so it cannot need one itself)."""
    _utc(spark)
    from ..operators.multimodal import sniff_media, synthesize_mixed_media

    media = synthesize_mixed_media(_t(spark, sf_dir, "documents"))
    return sniff_media(media)


@register(
    "avro_container_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 3 AS nb,
             12 + (doc_id * 7) % 40 AS npb
      FROM documents),
    bl AS (
      SELECT media_id, nb, npb, unnest(generate_series(0, nb - 1)) AS b
      FROM m),
    r AS (
      SELECT media_id, nb, npb, b,
             unnest(generate_series(0, npb - 1)) AS i
      FROM bl),
    v AS (
      SELECT media_id, b, i,
             (media_id * 13 + i * 7 + b) % 5000 - 1000 AS id,
             length('doc-' || CAST((media_id + i + b) % 37 AS VARCHAR))
               AS nlen,
             ((media_id + i * 3 + b) % 16) * 0.25 AS ratio,
             CASE WHEN (i + b) % 3 = 0 THEN 1 ELSE 0 END AS ok,
             CASE WHEN (i + media_id) % 5 = 2 THEN NULL
                  ELSE (i * 11 + b) % 400 END AS opt
      FROM r)
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(id) AS BIGINT) AS id_sum,
           CAST(sum(nlen) AS BIGINT) AS name_chars,
           CAST(sum(ratio) AS DOUBLE) AS ratio_sum,
           CAST(sum(ok) AS BIGINT) AS n_ok,
           CAST(sum(CASE WHEN opt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_opt_null,
           CAST(coalesce(sum(opt), 0) AS BIGINT) AS opt_sum
    FROM v
    GROUP BY media_id
    """,
    tags=("sources", "avro", "container", "codec", "mapInPandas"),
)
def q_avro_container_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro OBJECT CONTAINER read (round 10) — with parquet, ORC,
    and Arrow IPC already covered, the last of the big-four table
    containers a real lake ships (Kafka archives, Hadoop exports).
    The hand reader (``functions/avro_scan.py``) walks the spec's
    layout end to end: ``Obj\\x01`` magic, the metadata map in
    Avro's own block-encoded map form, the writer SCHEMA parsed from
    its embedded JSON into a decode plan (flat records of
    long/int/string/double/boolean and ``['null', T]`` unions —
    beyond that, loud boundary), per-block codec decode (null /
    RAW-deflate / snappy with the spec's trailing big-endian CRC32
    of the UNCOMPRESSED bytes), 16-byte sync markers VERIFIED per
    block, zigzag varints (the same mapping the protobuf codec
    pins), and IEEE little-endian doubles.  No Avro library ships in
    this container, so the TFRecord layered-pinning pattern applies:
    hand writer from the spec, compression layers from
    zlib/libsnappy, every aggregate recomputed by the oracle —
    ratio values are exact binary quarters so the double sum is
    order-independent and hash-stable."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_avro_scan,
        synthesize_avro_media,
    )

    media = synthesize_avro_media(_t(spark, sf_dir, "documents"))
    return extract_avro_scan(media).select(
        "media_id", "n_records", "id_sum", "name_chars", "ratio_sum",
        "n_ok", "n_opt_null", "opt_sum",
    )


@register(
    "avro_complex_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 10 + doc_id % 20 AS n FROM documents),
    ii AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    rec AS (
      SELECT media_id, n, i,
             media_id * 1000 + i AS id_v,
             i % 4 AS n_tags,
             i % 3 AS n_props,
             (media_id + i) % 3 AS color_idx,
             i % 3 AS ubranch,
             CASE WHEN i % 3 = 1
                  THEN length('u' || CAST(i AS VARCHAR)) ELSE 0
             END AS uchars,
             (media_id + i) % 256 + (media_id + i + 1) % 256
               + (media_id + i + 2) % 256 + (media_id + i + 3) % 256
               + CASE WHEN media_id % 2 = 1
                      THEN i % 256 + (i + 1) % 256
                           + (i + 2) % 256 + (i + 3) % 256
                      ELSE 0 END
               AS fp
      FROM ii),
    props AS (
      SELECT media_id, i, unnest(generate_series(0, (i % 3) - 1)) AS j
      FROM ii WHERE i % 3 > 0),
    psum AS (
      SELECT media_id,
             CAST(sum((i * 7 + j * 13) % 1000) AS BIGINT) AS prop_sum
      FROM props GROUP BY media_id),
    chain AS (
      SELECT media_id, i, unnest(generate_series(0, (i % 4) - 1)) AS k
      FROM ii WHERE media_id % 3 = 2 AND i % 4 > 0),
    csum AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS chain_nodes,
             CAST(sum((i * 3 + k) % 100) AS BIGINT) AS chain_sum
      FROM chain GROUP BY media_id),
    agg AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n_records,
             CAST(sum(id_v) AS BIGINT) AS id_sum,
             CAST(sum(n_tags) AS BIGINT) AS tag_count,
             CAST(2 * sum(n_tags) AS BIGINT) AS tag_chars,
             CAST(sum(n_props) AS BIGINT) AS prop_count,
             CAST(sum(CASE WHEN color_idx = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_red,
             CAST(sum(CASE WHEN color_idx = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_green,
             CAST(sum(CASE WHEN color_idx = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_blue,
             CAST(sum(fp) AS BIGINT) AS fp_sum,
             CAST(sum(CASE WHEN ubranch = 0 THEN media_id + i ELSE 0 END)
                  AS BIGINT) AS u_long_sum,
             CAST(sum(uchars) AS BIGINT) AS u_str_chars,
             CAST(sum(CASE WHEN ubranch = 2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS u_nulls
      FROM rec GROUP BY media_id)
    SELECT a.media_id, a.n_records, a.id_sum, a.tag_count, a.tag_chars,
           a.prop_count, coalesce(p.prop_sum, 0) AS prop_sum,
           a.n_red, a.n_green, a.n_blue, a.fp_sum,
           a.u_long_sum, a.u_str_chars, a.u_nulls,
           coalesce(c.chain_nodes, 0) AS chain_nodes,
           coalesce(c.chain_sum, 0) AS chain_sum
    FROM agg a LEFT JOIN psum p USING (media_id)
         LEFT JOIN csum c USING (media_id)
    """,
    tags=("sources", "avro", "complex-types", "union", "mapInPandas"),
)
def q_avro_complex_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro COMPLEX types on the container path (round 11 — VERDICT
    r10 item 4): arrays (block framing with terminator), maps
    (string keys + the same block framing), enums (range-checked
    symbol index), fixed (raw width bytes), and a GENERAL 3-branch
    union ``[long, string, null]`` — null LAST, so the ``['null',
    T]`` two-branch fast path can never have produced these values.
    Decoded by the SAME generic nested decoder the Iceberg manifests
    ride (``functions/avro_scan.py:_parse_type_spec`` /
    ``_decode_spec``); one aggregate per complex field so any
    mis-framing (a lost array terminator, an off-by-one fixed width,
    a swapped union branch) breaks the oracle hash.  Round 13: seeds
    with ``seed%3 == 2`` carry a BOUNDED RECURSIVE named type (the
    ``Node{v, next:[null,Node]}`` linked list — value-depth capped,
    so crafted bodies quarantine instead of recursing), and the
    container codec rotates null / deflate / ZSTANDARD (zstd frames
    by pyarrow's codec, decoded by the hand decoder)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_avro_complex_scan,
        synthesize_avro_complex_media,
    )

    media = synthesize_avro_complex_media(_t(spark, sf_dir, "documents"))
    return extract_avro_complex_scan(media).select(
        "media_id", "n_records", "id_sum", "tag_count", "tag_chars",
        "prop_count", "prop_sum", "n_red", "n_green", "n_blue",
        "fp_sum", "u_long_sum", "u_str_chars", "u_nulls",
        "chain_nodes", "chain_sum",
    )


@register(
    "iceberg_snapshot_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 4 AS n FROM documents),
    f AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS j
      FROM m),
    r AS (
      SELECT media_id, n, j,
             40 + (media_id + j) % 60 AS rows_,
             media_id % n AS k
      FROM f)
    SELECT media_id,
           CAST(2 AS INTEGER) AS n_snapshots,
           CAST(3 AS INTEGER) AS n_manifests,
           CAST(max(n) AS INTEGER) AS n_data_files,
           CAST(1 AS INTEGER) AS n_deleted_entries,
           CAST(1 AS INTEGER) AS n_delete_files,
           CAST(max(n) - 1 AS INTEGER) AS files_pruned,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN j = k THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(CASE WHEN j = k THEN (rows_ - 4) // 7 + 1
                         ELSE 0 END) AS BIGINT)
             AS positions_deleted_scanned,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(sum(CASE WHEN j = k THEN
                         (rows_ - 18) // 40 - (rows_ - 18) // 280
                         ELSE 0 END) AS BIGINT) AS probe_matches
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "lakehouse", "avro", "parquet",
          "data-skipping", "mapInPandas"),
)
def q_iceberg_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache ICEBERG snapshot scan (round 10) — the lakehouse read
    path a 100 TB table serves queries through, walked end to end
    from the public table spec (``functions/iceberg_scan.py``):
    table-metadata JSON (the CURRENT snapshot must win, not the
    union of history — snapshot 1 deliberately sees fewer files),
    manifest-list avro, manifest avro with NESTED ``data_file``
    records and bounds stored as arrays of key/value records
    (Iceberg's encoding for non-string-key maps; exercises the
    generic nested Avro decoder), DELETED entries skipped, then
    BOUNDS-BASED FILE PRUNING: the point lookup reads exactly ONE of
    the 3-6 real pyarrow parquet files, whose footer row count is
    cross-checked against the manifest's ``record_count`` so the two
    metadata systems cannot drift.  ``files_pruned`` = n-1 in the
    oracle IS the data-skipping guarantee — at fleet scale this is
    the difference between touching one file and touching the
    table.  v2 MERGE-ON-READ completes the path: a POSITIONAL
    DELETE parquet (spec schema ``file_path``/``pos``) rides a
    ``content=1`` delete manifest and removes every ``i % 7 == 3``
    position, so the oracle's ``probe_matches`` subtracts the
    ``i ≡ 17 (mod 280)`` overlap — a reader that ignores delete
    files over-counts and breaks the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_scan,
        synthesize_iceberg_media,
    )

    media = synthesize_iceberg_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_scan(media).select(
        "media_id", "n_snapshots", "n_manifests", "n_data_files",
        "n_deleted_entries", "n_delete_files", "files_pruned",
        "files_scanned", "rows_scanned", "positions_deleted_scanned",
        "total_rows", "probe_matches",
    )


@register(
    "orc_scalar_types_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 60 + (doc_id * 7) % 90 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN i % 11 <> 0 AND i % 3 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS bool_true,
           sum(CASE WHEN i % 13 <> 0
                    THEN i * CAST(0.25 AS DOUBLE) ELSE 0 END)
             AS double_sum,
           CAST(sum(CASE WHEN i % 7 <> 0
                         THEN 1401580800000000
                              + (media_id % 1000) * 1000000
                              + i * 1000003
                         ELSE 0 END) AS BIGINT) AS ts_micros_sum,
           CAST(sum(CASE WHEN i % 17 <> 0
                         THEN 18000 + media_id % 50 + i * 3 - 40
                         ELSE 0 END) AS BIGINT) AS date_days_sum,
           CAST(sum(CASE WHEN i % 5 <> 4
                         THEN (i - 30) * 7 + media_id % 100
                         ELSE 0 END) AS BIGINT) AS dec_cents_sum,
           CAST(sum(CASE WHEN i % 11 = 0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN i % 13 = 0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN i % 17 = 0 THEN 1 ELSE 0 END)
                + sum(CASE WHEN i % 5 = 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS total_nulls
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "orc", "scalar-types", "timestamps", "decimal",
          "mapInPandas"),
)
def q_orc_scalar_types_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC SCALAR-TYPE stripe decode (round 11 continuation — closes
    the rich scan's 'non-int/string types out of scope' boundary):
    boolean (bool-RLE DATA), double (IEEE754 LE), TIMESTAMP_INSTANT
    (DATA = RLEv2 signed seconds relative to the 2015-01-01 UTC
    epoch — pre-2015 values are NEGATIVE in the fixture — plus
    SECONDARY scaled nanos, empirically producer-pinned:
    ``nanos = p * 10^(b+1)`` for low-bits ``b > 0``), date (RLEv2
    signed days), and decimal (DATA = zigzag unbounded varints of
    the unscaled value + SECONDARY per-value scale, cross-checked
    against the declared scale).  Every column carries a PRESENT
    stream (different null cadences), compression rotates
    uncompressed/zlib, and all five sums are oracle-recomputed —
    ``double_sum`` over dyadic values so binary-float addition is
    exact in both engines."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_orc_scalars_scan,
        synthesize_orc_scalars_media,
    )

    media = synthesize_orc_scalars_media(_t(spark, sf_dir, "documents"))
    return extract_orc_scalars_scan(media).select(
        "media_id", "n_rows", "bool_true", "double_sum",
        "ts_micros_sum", "date_days_sum", "dec_cents_sum",
        "total_nulls",
    )


@register(
    "orc_bloom_filter_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 60 + doc_id % 40 AS n FROM documents)
    SELECT media_id,
           CAST(n AS BIGINT) AS n_rows,
           CAST(2 AS INTEGER) AS n_bloom_columns,
           CAST(4 AS INTEGER) AS hash_functions,
           CAST(n AS BIGINT) AS int_present_hits,
           CAST(n AS BIGINT) AS str_present_hits,
           TRUE AS int_fp_bounded,
           TRUE AS str_fp_bounded
    FROM m
    """,
    tags=("sources", "orc", "bloom-filter", "data-skipping",
          "mapInPandas"),
)
def q_orc_bloom_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC BLOOM FILTER data skipping (round 11): decode the
    BLOOM_FILTER_UTF8 index streams pyarrow's writer emits
    (``bloom_filter_columns``) and serve point-lookup membership
    WITHOUT touching the data streams — at 100 TB this is how a
    needle query skips stripes whose min/max straddle the probe.

    Both ORC bloom hash variants are hand-implemented and
    producer-pinned: integers use the Thomas Wang 64-bit mix with
    SIGNED int64 arithmetic (the unsigned textbook variant diverges
    for any value that goes negative mid-mix — pinned against
    pyarrow single-value blooms including negatives and >32-bit
    values), strings use Hive's Murmur3 ``hash64`` h1 lane with its
    104729 default seed; placement is the Java split-hash
    ``|int32(h1 + i*h2)| % numBits`` with int32 wraparound.  The
    oracle asserts only GUARANTEED semantics: zero false negatives
    (present_hits == n for both columns) and a bounded
    false-positive rate over deterministic absent sets (booleans,
    stable across writer versions)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_orc_bloom_scan,
        synthesize_orc_bloom_media,
    )

    media = synthesize_orc_bloom_media(_t(spark, sf_dir, "documents"))
    return extract_orc_bloom_scan(media).select(
        "media_id", "n_rows", "n_bloom_columns", "hash_functions",
        "int_present_hits", "str_present_hits", "int_fp_bounded",
        "str_fp_bounded",
    )


@register(
    "avro_schema_evolution_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 40 + (doc_id * 3) % 60 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_records,
           CAST(sum(i + media_id % 50) AS BIGINT) AS id_sum,
           sum(i * CAST(0.25 AS DOUBLE)) AS score_sum,
           CAST(sum(1 + length(CAST(i AS VARCHAR))) AS BIGINT)
             AS name_bytes,
           CAST(sum(CASE WHEN media_id % 2 = 0 THEN 1
                         WHEN i % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS region_emea,
           CAST(sum(CASE i % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END)
                AS BIGINT) AS color_code_sum
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "avro", "schema-evolution", "kafka-archive",
          "mapInPandas"),
)
def q_avro_schema_evolution_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Avro SCHEMA RESOLUTION (round 11 continuation): read evolving
    containers through one READER schema per the spec's resolution
    rules (``functions/avro_scan.py:resolve_avro_schemas``) — the
    feature every long-lived Kafka archive depends on.  Writer
    schemas rotate by seed: v1 (old producer — ``int`` id promoted
    to ``long``, ``float`` score promoted to ``double``, an extra
    ``debug`` field decoded-and-DISCARDED, no ``region`` so the
    reader's declared default fills in) and v2 (newer producer —
    field order SHUFFLED, matching is by name).  The enum's symbol
    list is ordered differently in writer and reader, so the wire
    index must be re-resolved by NAME (``color_code_sum`` breaks if
    indexes pass through raw).  A reader field missing from the
    writer WITHOUT a default, unresolvable promotions, and compound
    defaults are loud ValueError boundaries."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_avro_evolved_scan,
        synthesize_avro_evolved_media,
    )

    media = synthesize_avro_evolved_media(_t(spark, sf_dir, "documents"))
    return extract_avro_evolved_scan(media).select(
        "media_id", "n_records", "id_sum", "score_sum", "name_bytes",
        "region_emea", "color_code_sum",
    )


@register(
    "avro_logical_types_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 12 + doc_id % 20 AS n FROM documents),
    ii AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, n, i,
             19000 + (media_id + i) % 365 AS d,
             (media_id * 13 + i * 7) % 100000 - 5000 AS amt
      FROM ii)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_records,
           CAST(min(d) AS INTEGER) AS date_min,
           CAST(max(d) AS INTEGER) AS date_max,
           CAST((max(n) - 1) * 1000000 AS BIGINT) AS ts_span_micros,
           CAST(sum(amt) AS BIGINT) AS amount_sum_unscaled,
           CAST(sum(CASE WHEN amt < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "avro", "logical-types", "decimal", "mapInPandas"),
)
def q_avro_logical_types_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro LOGICAL types (round 11): ``date`` (int days),
    ``timestamp-micros`` (long), and ``decimal`` (bytes: big-endian
    two's-complement unscaled value with a precision fence) — the
    annotations every real Kafka-archive schema carries on its base
    primitives (Avro 1.11 spec "Logical Types").  Negative amounts
    exercise two's complement; sums stay integer (unscaled cents)
    so the oracle is exact.  Unknown annotations are ignored per
    spec (underlying type wins); a decimal without a valid
    precision loud-rejects rather than silently reinterpreting
    money bytes."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_avro_logical_scan,
        synthesize_avro_logical_media,
    )

    media = synthesize_avro_logical_media(_t(spark, sf_dir, "documents"))
    return extract_avro_logical_scan(media).select(
        "media_id", "n_records", "date_min", "date_max",
        "ts_span_micros", "amount_sum_unscaled", "n_negative",
    )


@register(
    "iceberg_time_travel_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 4 AS n FROM documents),
    f AS (
      SELECT media_id, n, (n + 1) // 2 AS half,
             unnest(generate_series(0, n - 1)) AS j
      FROM m),
    r AS (
      SELECT media_id, n, half, j,
             40 + (media_id + j) % 60 AS rows_,
             media_id % n AS k
      FROM f)
    SELECT media_id,
           CAST(2 AS INTEGER) AS n_snapshots,
           CAST(max(half) AS INTEGER) AS files_s1,
           CAST(max(n) AS INTEGER) AS files_current,
           CAST(max(n) - max(half) AS INTEGER) AS files_added,
           CAST(sum(CASE WHEN j < half THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_s1,
           CAST(sum(rows_) AS BIGINT) AS rows_current,
           CAST(sum(CASE WHEN j >= half THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_added,
           CAST(max(CASE WHEN k < half THEN 1 ELSE 0 END) AS INTEGER)
             AS scanned_s1,
           CAST(1 AS INTEGER) AS scanned_current,
           CAST(sum(CASE WHEN j = k AND k < half
                         THEN (rows_ - 18) // 40 + 1 ELSE 0 END)
                AS BIGINT) AS matches_s1,
           CAST(sum(CASE WHEN j = k THEN
                         (rows_ - 18) // 40 - (rows_ - 18) // 280
                         ELSE 0 END) AS BIGINT) AS matches_current,
           CAST(0 AS INTEGER) AS delete_files_s1,
           CAST(1 AS INTEGER) AS delete_files_current
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "time-travel", "reproducibility",
          "mapInPandas"),
)
def q_iceberg_time_travel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg TIME TRAVEL (round 11): the same point lookup served
    at EVERY snapshot in history — the reproducibility primitive
    ("rerun the job exactly as the data stood last week").  The
    fixture's history is asymmetric by construction: snapshot 1 sees
    half the files and NO delete manifest, the current snapshot sees
    all files plus positional deletes — so ``matches_s1`` counts raw
    positions while ``matches_current`` subtracts merge-on-read
    deletes.  A reader that unions history inflates ``rows_s1``; one
    that applies current deletes retroactively deflates
    ``matches_s1``; both break the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_time_travel,
        synthesize_iceberg_media,
    )

    media = synthesize_iceberg_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_time_travel(media).select(
        "media_id", "n_snapshots", "files_s1", "files_current",
        "files_added", "rows_s1", "rows_current", "rows_added",
        "scanned_s1", "scanned_current", "matches_s1",
        "matches_current", "delete_files_s1", "delete_files_current",
    )


@register(
    "iceberg_equality_deletes_scan",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id FROM documents),
    f AS (
      SELECT media_id, unnest(generate_series(0, 3)) AS j FROM m),
    r AS (
      SELECT media_id, j, 30 + (media_id + j) % 20 AS rows_,
             media_id % 4 AS k
      FROM f)
    SELECT media_id,
           CASE WHEN media_id % 2 = 0 THEN 'bucket'
                ELSE 'truncate' END AS transform,
           CAST(CASE WHEN media_id % 2 = 0 THEN 8 ELSE 100 END
                AS INTEGER) AS transform_arg,
           CAST(4 AS INTEGER) AS n_data_files,
           CAST(1 AS INTEGER) AS n_eq_delete_files,
           CAST(3 AS INTEGER) AS files_pruned_partition,
           CAST(0 AS INTEGER) AS files_pruned_bounds,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN j = k THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(CASE WHEN j = k THEN (rows_ + 2) // 5 ELSE 0 END)
                AS BIGINT) AS equality_deleted_rows,
           CAST(sum(CASE WHEN j = k THEN rows_ - (rows_ + 2) // 5
                         ELSE 0 END) AS BIGINT) AS live_rows,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(1 AS BIGINT) AS probe_matches
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "lakehouse", "equality-deletes",
          "partition-transforms", "data-skipping", "mapInPandas"),
)
def q_iceberg_equality_deletes_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg v2 EQUALITY deletes + partition-spec TRANSFORMS
    (round 11 — VERDICT r10 item 2 step 2): the two features a table
    written by a streaming CDC engine (e.g. Flink) exercises that the
    base ``iceberg_snapshot_scan`` doesn't.

    Planning resolves the default partition spec from the metadata
    JSON and prunes BY TRANSFORM — ``bucket[8]`` (murmur3_x86_32 of
    the 8-byte LE long, pinned by the spec's published Appendix-B
    vectors: 34 → 2017239379) on even seeds, ``truncate[100]`` on
    odd.  The bucket fixture's file BOUNDS all interleave across the
    whole value domain, so ``files_pruned_partition = 3`` is work
    only the transform can do (bounds pruning would keep all 4
    files); the oracle asserts it.  Merge-on-read then applies a
    ``content=2`` equality-delete file (``equality_ids = [1]``):
    every data-file value at index ``i % 5 == 2`` is deleted, the
    probe (index 18, kept) still matches exactly once, and
    ``equality_deleted_rows``/``live_rows`` are oracle-exact — a
    reader that ignores equality deletes resurrects deleted rows and
    breaks the hash.  The base positional scan now loud-rejects
    ``content=2`` files instead of mis-reading them
    (``functions/iceberg_scan.py``)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_v2_scan,
        synthesize_iceberg_v2_media,
    )

    media = synthesize_iceberg_v2_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_v2_scan(media).select(
        "media_id", "transform", "transform_arg", "n_data_files",
        "n_eq_delete_files", "files_pruned_partition",
        "files_pruned_bounds", "files_scanned", "rows_scanned",
        "equality_deleted_rows", "live_rows", "total_rows",
        "probe_matches",
    )


@register(
    "iceberg_puffin_dv_scan",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id FROM documents),
    f AS (
      SELECT media_id, unnest(generate_series(0, 2)) AS j FROM m),
    fr AS (
      SELECT media_id, j, 30 + (media_id + j) % 20 AS rows_,
             j * 200 + media_id % 40 AS lo
      FROM f),
    r AS (
      SELECT media_id, j, lo,
             unnest(generate_series(0, rows_ - 1)) AS r
      FROM fr),
    d AS (
      SELECT media_id, j, lo, r,
             CASE WHEN j = 0 AND r % 4 = media_id % 4 THEN 1
                  WHEN j = 1 AND r % 5 = media_id % 5 THEN 1
                  ELSE 0 END AS del
      FROM r)
    SELECT media_id,
           CAST(3 AS INTEGER) AS n_data_files,
           CAST(2 AS INTEGER) AS n_dv_blobs,
           CASE media_id % 3 WHEN 0 THEN 'none' WHEN 1 THEN 'lz4'
                ELSE 'zstd' END AS blob_codec,
           CAST(count(*) AS BIGINT) AS total_rows,
           CAST(sum(del) AS BIGINT) AS deleted_rows,
           CAST(count(*) - sum(del) AS BIGINT) AS live_rows,
           CAST(sum(CASE WHEN del = 0 THEN lo + r ELSE 0 END) AS BIGINT)
             AS surviving_v_sum,
           CAST(1 AS BIGINT) AS probe_matches
    FROM d
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "puffin", "deletion-vectors",
          "merge-on-read", "lakehouse", "mapInPandas"),
)
def q_iceberg_puffin_dv_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg PUFFIN deletion vectors (round 11 continuation — the
    v3-direction DV path): a REAL Puffin container
    (``PFA1`` magics, JSON footer payload with size/flags framing,
    blob descriptors with offset/length bounds-checked against the
    footer region, lz4-compressed footers decoded per flag bit 0) holds
    ``deletion-vector-v1`` blobs in the Delta-COMPATIBLE framing
    (BE size + magic 1681511377 + 64-bit roaring portable + BE
    CRC32) — the roaring codec is the one already spec-golden-pinned
    for the Delta reader, so the two lakehouse DV paths share one
    verified decoder.  Referencing follows the v3 shape: a DELETE
    manifest whose entries carry ``referenced_data_file`` plus
    ``content_offset``/``content_size_in_bytes`` pointing INTO the
    Puffin — each range must match a declared footer blob exactly,
    the blob ``cardinality`` property AND the entry's
    ``record_count`` both cross-check the decoded bitmap, and a DV
    referencing a missing data file or an undeclared byte range
    loud-rejects.  ``surviving_v_sum``/``probe_matches`` are the
    row-level merge-on-read proof."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_puffin_scan,
        synthesize_iceberg_puffin_media,
    )

    media = synthesize_iceberg_puffin_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_puffin_scan(media).select(
        "media_id", "n_data_files", "n_dv_blobs", "blob_codec",
        "total_rows", "deleted_rows", "live_rows", "surviving_v_sum",
        "probe_matches",
    )


@register(
    "iceberg_sequence_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + doc_id % 10 AS rows0,
             20 + (doc_id + 1) % 10 AS rows1,
             20 + (doc_id + 3) % 10 AS rows3
      FROM documents),
    d AS (
      SELECT media_id, rows0, rows1, rows3,
             (rows0 + 2) // 3 AS d0
      FROM m)
    SELECT media_id,
           'truncate' AS transform,
           CAST(100 AS INTEGER) AS transform_arg,
           CAST(4 AS INTEGER) AS n_data_files,
           CAST(1 AS INTEGER) AS n_eq_delete_files,
           CAST(2 AS INTEGER) AS files_pruned_partition,
           CAST(0 AS INTEGER) AS files_pruned_bounds,
           CAST(2 AS INTEGER) AS files_scanned,
           CAST(rows0 + d0 AS BIGINT) AS rows_scanned,
           CAST(d0 AS BIGINT) AS equality_deleted_rows,
           CAST(rows0 AS BIGINT) AS live_rows,
           CAST(rows0 + rows1 + d0 + rows3 AS BIGINT) AS total_rows,
           CAST(1 AS BIGINT) AS probe_matches
    FROM d
    """,
    tags=("sources", "iceberg", "lakehouse", "sequence-numbers",
          "equality-deletes", "merge-on-read", "mapInPandas"),
)
def q_iceberg_sequence_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 SEQUENCE NUMBERS (round 11 continuation — closes
    the scan's documented 'sequence ordering out of scope' gap): an
    equality delete applies only to rows whose data file has a
    STRICTLY SMALLER data sequence number, so a value re-added after
    the delete must SURVIVE.  The fixture's delete (seq 2) sits
    between two data generations: f0/f1 (seq 1, carried by manifest
    INHERITANCE — null ``data_sequence_number`` on added entries
    inherits the manifest_file's ``sequence_number``) and f2/f3
    (seq 3, declared per entry).  f2 re-adds exactly the values the
    delete killed in f0, and the probe is one of them — a
    sequence-aware reader finds it exactly once (oracle-asserted
    ``probe_matches = 1``), a global-delete reader zero times, a
    delete-ignoring reader twice.  Sequence declaration is
    all-or-none: a half-sequenced table loud-rejects (guessing
    either way silently resurrects or re-kills rows); the
    pre-sequence fixtures keep their documented apply-globally
    behavior."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_seq_scan,
        synthesize_iceberg_seq_media,
    )

    media = synthesize_iceberg_seq_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_seq_scan(media).select(
        "media_id", "transform", "transform_arg", "n_data_files",
        "n_eq_delete_files", "files_pruned_partition",
        "files_pruned_bounds", "files_scanned", "rows_scanned",
        "equality_deleted_rows", "live_rows", "total_rows",
        "probe_matches",
    )


@register(
    "iceberg_multi_partition_scan",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id FROM documents),
    f AS (
      SELECT media_id, unnest(generate_series(0, 3)) AS j FROM m),
    r AS (
      SELECT media_id, j, 20 + (media_id + j) % 10 AS rows_ FROM f)
    SELECT media_id,
           'truncate,bucket' AS transform,
           CAST(2 AS INTEGER) AS transform_arg,
           CAST(4 AS INTEGER) AS n_data_files,
           CAST(0 AS INTEGER) AS n_eq_delete_files,
           CAST(3 AS INTEGER) AS files_pruned_partition,
           CAST(0 AS INTEGER) AS files_pruned_bounds,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN j = 0 THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(0 AS BIGINT) AS equality_deleted_rows,
           CAST(sum(CASE WHEN j = 0 THEN rows_ ELSE 0 END) AS BIGINT)
             AS live_rows,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(1 AS BIGINT) AS probe_matches
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "lakehouse", "partition-transforms",
          "multi-field-spec", "data-skipping", "mapInPandas"),
)
def q_iceberg_multi_partition_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg MULTI-FIELD partition specs (round 11 continuation —
    closes the scan's 'multi-field partition specs unsupported'
    boundary): real tables partition by conjunctions like
    ``(day(ts), bucket(id))``; here the spec is
    ``(truncate[1000](v), bucket[8](v))`` and the four files sit at
    the corners of the 2x2 (window, bucket) grid with the probe in
    corner (W0,B0).  Truncate alone keeps two files, bucket alone
    keeps two files — ``files_pruned_partition = 3`` is achievable
    ONLY by the conjunction, which the oracle asserts.  The
    per-row audit now checks EVERY spec field's transform against
    the manifest's declared partition tuple, and duplicate partition
    field names or >3 fields loud-reject."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_multi_scan,
        synthesize_iceberg_multi_media,
    )

    media = synthesize_iceberg_multi_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_multi_scan(media).select(
        "media_id", "transform", "transform_arg", "n_data_files",
        "n_eq_delete_files", "files_pruned_partition",
        "files_pruned_bounds", "files_scanned", "rows_scanned",
        "equality_deleted_rows", "live_rows", "total_rows",
        "probe_matches",
    )


@register(
    "iceberg_time_transform_scan",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id FROM documents),
    f AS (
      SELECT media_id, unnest(generate_series(0, 3)) AS j FROM m),
    r AS (
      SELECT media_id, j, 30 + (media_id + j) % 20 AS rows_,
             media_id % 4 AS k
      FROM f)
    SELECT media_id,
           CASE media_id % 4 WHEN 0 THEN 'hour' WHEN 1 THEN 'day'
                             WHEN 2 THEN 'month' ELSE 'year' END
             AS transform,
           CAST(0 AS INTEGER) AS transform_arg,
           CAST(4 AS INTEGER) AS n_data_files,
           CAST(1 AS INTEGER) AS n_eq_delete_files,
           CAST(3 AS INTEGER) AS files_pruned_partition,
           CAST(0 AS INTEGER) AS files_pruned_bounds,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN j = k THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(CASE WHEN j = k THEN (rows_ + 2) // 5 ELSE 0 END)
                AS BIGINT) AS equality_deleted_rows,
           CAST(sum(CASE WHEN j = k THEN rows_ - (rows_ + 2) // 5
                         ELSE 0 END) AS BIGINT) AS live_rows,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(1 AS BIGINT) AS probe_matches
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "lakehouse", "time-transforms",
          "partition-transforms", "data-skipping", "mapInPandas"),
)
def q_iceberg_time_transform_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg TIME partition transforms (round 11 continuation):
    ``hour``/``day``/``month``/``year`` — the daily/hourly-partition
    shape nearly every real event table uses, rotated by seed.  The
    transforms follow the table spec's ordinal-since-epoch semantics
    (hour = micros//3.6e9, day = micros//8.64e10, month/year through
    the proleptic Gregorian calendar with floor semantics for
    pre-epoch values; pinned in tests against stdlib ``datetime`` as
    the independent calendar producer).  Each fixture file holds one
    partition ordinal of timestamp-micros values, so
    ``files_pruned_partition = 3`` is oracle-asserted pure
    time-transform pruning, with the same equality-delete
    merge-on-read battery as ``iceberg_equality_deletes_scan``
    layered on top.  The scan also audits every scanned row's
    transform against the manifest's declared partition value —
    drift loud-rejects."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_time_scan,
        synthesize_iceberg_time_media,
    )

    media = synthesize_iceberg_time_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_time_scan(media).select(
        "media_id", "transform", "transform_arg", "n_data_files",
        "n_eq_delete_files", "files_pruned_partition",
        "files_pruned_bounds", "files_scanned", "rows_scanned",
        "equality_deleted_rows", "live_rows", "total_rows",
        "probe_matches",
    )


@register(
    "delta_log_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 3 AS n0 FROM documents),
    f AS (
      SELECT media_id, n0, unnest(generate_series(0, n0 + 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, n0, i,
             40 + (media_id + i) % 60
               + CASE WHEN i = 0 THEN 5 ELSE 0 END AS rows_,
             media_id % (n0 + 2) AS k
      FROM f)
    SELECT media_id,
           CAST(1 AS INTEGER) AS checkpoint_version,
           CAST(2 AS INTEGER) AS current_version,
           CAST(1 AS INTEGER) AS json_commits_replayed,
           CAST(max(n0) + 2 AS INTEGER) AS files_at_checkpoint,
           CAST(max(n0) + 2 AS INTEGER) AS live_files,
           CAST(1 AS INTEGER) AS min_reader_version,
           CAST(max(n0) + 1 AS INTEGER) AS files_pruned,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN i = k THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(rows_) AS BIGINT) AS total_live_rows,
           CAST(sum(CASE WHEN i = k THEN (rows_ - 18) // 40 + 1
                         ELSE 0 END) AS BIGINT) AS probe_matches
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "transaction-log",
          "data-skipping", "mapInPandas"),
)
def q_delta_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake ``_delta_log`` read path (round 11 — VERDICT r10
    item 3): checkpoint-parquet + JSON-commit snapshot
    reconstruction from the public protocol spec
    (``functions/delta_log.py``).  The bundle's pre-checkpoint JSON
    commits are VACUUMED (``delta.logRetentionDuration`` cleanup),
    so the reader provably starts from ``_last_checkpoint`` →
    checkpoint parquet (pyarrow-real, one action per row in struct
    columns) and replays exactly ONE post-checkpoint commit
    (``json_commits_replayed = 1``, oracle-asserted).  That commit
    REMOVES the version-0 slot-0 file and adds a replacement over
    the same value window — a reader that ignores ``remove``
    tombstones scans both files whenever the probe lands in slot 0
    and over-counts ``rows_scanned``/``probe_matches``
    (oracle-visible).  Planning prunes by each add action's
    ``stats`` JSON (``files_pruned = live - 1`` asserted), every
    survivor's ``numRecords`` is cross-checked against the actual
    parquet footer, and ``protocol.minReaderVersion > 1``
    loud-rejects (reading e.g. a deletion-vector table as v1 would
    resurrect deleted rows)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_scan,
        synthesize_delta_media,
    )

    media = synthesize_delta_media(_t(spark, sf_dir, "documents"))
    return extract_delta_scan(media).select(
        "media_id", "checkpoint_version", "current_version",
        "json_commits_replayed", "files_at_checkpoint", "live_files",
        "min_reader_version", "files_pruned", "files_scanned",
        "rows_scanned", "total_live_rows", "probe_matches",
    )


@register(
    "delta_partition_pruning",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 6 + doc_id % 3 AS n FROM documents),
    f AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, n, i,
             i % 4 AS p,
             30 + (media_id + i) % 20 AS rows_,
             media_id % n AS k,
             (media_id % n) % 4 AS tp
      FROM f),
    flags AS (
      SELECT media_id, n, i, p, rows_, k, tp,
             p = tp AS same_part,
             p = tp AND (i = k OR i % 2 = 1) AS scanned
      FROM r)
    SELECT media_id,
           CAST(max(n) AS INTEGER) AS live_files,
           CAST(sum(CASE WHEN i % 2 = 1 THEN 1 ELSE 0 END) AS INTEGER)
             AS files_without_stats,
           CAST(max(n) - sum(CASE WHEN same_part THEN 1 ELSE 0 END)
                AS INTEGER) AS files_pruned_partition,
           CAST(sum(CASE WHEN same_part AND NOT scanned THEN 1 ELSE 0
                    END) AS INTEGER) AS files_pruned_stats,
           CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS INTEGER)
             AS files_scanned,
           CAST(sum(CASE WHEN scanned THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(CASE WHEN i = k THEN (rows_ - 12) // 30 + 1
                         ELSE 0 END) AS BIGINT) AS probe_matches
    FROM flags
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "partition-pruning",
          "stats-less-adds", "mapInPandas"),
)
def q_delta_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta PARTITION pruning with STATS-LESS adds (round 11): the
    planning shape real partitioned Delta tables need —
    ``partitionValues`` prunes FIRST, and for add actions that carry
    no ``stats`` (legal: writers may skip them) it is the ONLY
    pruning available, so the conservative fallback is scan-the-file.
    The fixture puts half the adds stats-less (odd index): the
    stats-less sibling in the probe's partition is always scanned
    (``files_scanned`` counts it), every other partition is pruned
    wholesale by partition value, and stats prune exactly the
    stats-bearing same-partition files whose disjoint window excludes
    the probe.  Also exercises the YOUNG-TABLE path: version-0 JSON
    with no checkpoint and no ``_last_checkpoint`` yet.  All seven
    metrics oracle-exact per table."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_partitioned_scan,
        synthesize_delta_partitioned_media,
    )

    media = synthesize_delta_partitioned_media(
        _t(spark, sf_dir, "documents")
    )
    return extract_delta_partitioned_scan(media).select(
        "media_id", "live_files", "files_without_stats",
        "files_pruned_partition", "files_pruned_stats",
        "files_scanned", "rows_scanned", "probe_matches",
    )


@register(
    "delta_deletion_vectors",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 4 + doc_id % 3 AS n FROM documents),
    f AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    fr AS (
      SELECT media_id, n, i,
             50 + (media_id + i) % 50 AS rows_,
             i * 1000 + media_id % 100 AS lo
      FROM f),
    r AS (
      SELECT media_id, n, i, rows_, lo,
             unnest(generate_series(0, rows_ - 1)) AS r
      FROM fr),
    d AS (
      SELECT media_id, n, i, lo, r,
             CASE
               WHEN i = 0 AND r % 5 = media_id % 5 THEN 1
               WHEN i = 1 AND (r % 7 = media_id % 7
                               OR r % 7 = (media_id + 1) % 7) THEN 1
               WHEN i = 2 AND r BETWEEN 10 AND 15 + media_id % 9 THEN 1
               ELSE 0
             END AS del
      FROM r)
    SELECT media_id,
           CAST(1 AS INTEGER) AS checkpoint_version,
           CAST(3 AS INTEGER) AS current_version,
           CAST(2 AS INTEGER) AS json_commits_replayed,
           CAST(max(n) AS INTEGER) AS live_files,
           CAST(3 AS INTEGER) AS files_with_dv,
           CAST(1 AS INTEGER) AS inline_dvs,
           CAST(2 AS INTEGER) AS file_dvs,
           CAST(3 AS INTEGER) AS min_reader_version,
           CAST(count(*) AS BIGINT) AS total_rows,
           CAST(sum(del) AS BIGINT) AS deleted_rows,
           CAST(count(*) - sum(del) AS BIGINT) AS live_rows,
           CAST(sum(CASE WHEN del = 0 THEN lo + r ELSE 0 END) AS BIGINT)
             AS surviving_v_sum,
           CAST(sum(CASE WHEN i = 1 THEN del ELSE 0 END) AS BIGINT)
             AS replaced_dv_cardinality
    FROM d
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "deletion-vectors",
          "merge-on-read", "mapInPandas"),
)
def q_delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake DELETION VECTORS (round 11 continuation — the
    VERDICT r10 'a CDC-written table would be read WRONG' class for
    Delta): reader version 3 + ``readerFeatures=["deletionVectors"]``
    with merge-on-read row masking (``functions/delta_log.py``).
    The hand RoaringBitmapArray decoder (magic 1681511377, int64
    bitmap count, per-key 32-bit roaring in the RoaringFormatSpec
    portable layout — array/bitmap/run containers, cookie 12346 and
    12347, offset-header agreement enforced) is pinned by
    hand-traced goldens from that published spec; the Z85 path/inline
    codec by the ZeroMQ RFC test vector.  The fixture exercises: an
    INLINE DV carried by the CHECKPOINT itself, two stored DVs
    sharing one ``.bin`` file at different offsets (version byte,
    big-endian size + CRC32 framing, all cross-checked), a
    run-container DV, and a DV SUPERSEDED by a later re-add of the
    same file (last-add-wins — ``replaced_dv_cardinality`` asserts
    the v3 descriptor won over v2's).  ``surviving_v_sum`` is the
    row-level proof: the sum over non-deleted positions only, exact
    per table.  Descriptor cardinality vs decoded bitmap, declared
    size vs stored size, CRC32, parquet footer vs stats, and
    position < numRecords all loud-reject on mismatch; protocol
    version 2, unknown reader features, and absolute-path DVs are
    documented ValueError boundaries."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_dv_scan,
        synthesize_delta_dv_media,
    )

    media = synthesize_delta_dv_media(_t(spark, sf_dir, "documents"))
    return extract_delta_dv_scan(media).select(
        "media_id", "checkpoint_version", "current_version",
        "json_commits_replayed", "live_files", "files_with_dv",
        "inline_dvs", "file_dvs", "min_reader_version", "total_rows",
        "deleted_rows", "live_rows", "surviving_v_sum",
        "replaced_dv_cardinality",
    )


@register(
    "delta_column_mapping",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 3 AS n FROM documents),
    f AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    fr AS (
      SELECT media_id, n, i,
             30 + (media_id + i) % 40 AS rows_,
             i * 500 + media_id % 50 AS lo,
             media_id % n AS k
      FROM f)
    SELECT media_id,
           CASE WHEN media_id % 2 = 0 THEN 'name' ELSE 'id' END
             AS mapping_mode,
           CAST(2 AS INTEGER) AS min_reader_version,
           CAST(max(n) AS INTEGER) AS live_files,
           CAST(max(n) - 1 AS INTEGER) AS files_pruned,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN i = k THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(1 AS BIGINT) AS probe_matches,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(sum(lo * rows_ + rows_ * (rows_ - 1) // 2) AS BIGINT)
             AS sum_v
    FROM fr
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "column-mapping",
          "mapInPandas"),
)
def q_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake COLUMN MAPPING (round 11 continuation): reader
    version 2 tables whose parquet files carry uuid-flavored
    PHYSICAL column names instead of the table's logical names
    (``functions/delta_log.py:scan_delta_cm``).  Both spec modes:
    ``name`` resolves the logical ``v`` via each field's
    ``delta.columnMapping.physicalName`` metadata; ``id`` resolves
    by parquet ``field_id`` (the fixture plants a DECOY column with
    a different field_id so ordinal or first-column shortcuts fail)
    and cross-checks the match against the declared physicalName.
    Per-column stats in add actions are keyed by physical names —
    pruning still works (``files_pruned = n-1`` oracle-asserted) —
    and the scan loud-rejects if any data file carries the LOGICAL
    name (the naive-reader trap the feature exists to flag).
    ``sum_v`` is the value-level proof that the mapped column, not
    the decoy, was read.  Unknown modes, duplicate ids/names, and
    mapped tables hitting the non-CM scans are ValueError
    boundaries."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_cm_scan,
        synthesize_delta_cm_media,
    )

    media = synthesize_delta_cm_media(_t(spark, sf_dir, "documents"))
    return extract_delta_cm_scan(media).select(
        "media_id", "mapping_mode", "min_reader_version", "live_files",
        "files_pruned", "files_scanned", "rows_scanned",
        "probe_matches", "total_rows", "sum_v",
    )


@register(
    "delta_dv_column_mapping",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 2 AS n FROM documents),
    f AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    fr AS (
      SELECT media_id, n, i,
             40 + (media_id + i) % 30 AS rows_,
             i * 500 + media_id % 50 AS lo
      FROM f),
    r AS (
      SELECT media_id, n, i, rows_, lo,
             unnest(generate_series(0, rows_ - 1)) AS r
      FROM fr),
    d AS (
      SELECT media_id, n, i, lo, r,
             CASE WHEN i = 0 AND r % 6 = media_id % 6 THEN 1
                  ELSE 0 END AS del
      FROM r)
    SELECT media_id,
           'name' AS mapping_mode,
           CAST(3 AS INTEGER) AS min_reader_version,
           CAST(max(n) AS INTEGER) AS live_files,
           CAST(1 AS INTEGER) AS files_with_dv,
           CAST(count(*) AS BIGINT) AS total_rows,
           CAST(sum(del) AS BIGINT) AS deleted_rows,
           CAST(count(*) - sum(del) AS BIGINT) AS live_rows,
           CAST(sum(CASE WHEN del = 0 THEN lo + r ELSE 0 END) AS BIGINT)
             AS surviving_v_sum,
           CAST(1 AS BIGINT) AS probe_matches
    FROM d
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "deletion-vectors",
          "column-mapping", "feature-composition", "mapInPandas"),
)
def q_delta_dv_column_mapping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta FEATURE COMPOSITION (round 11 continuation): deletion
    vectors ON a column-mapped table — the shape a modern writer
    actually emits, with reader v3 declaring BOTH features.  The
    scan resolves the logical column through the name mapping
    (uuid-flavored physical names, stats keyed physically), then
    masks each file's DV positions; ``surviving_v_sum`` and
    ``probe_matches`` (the probe sits one position after a deleted
    row) prove the two features compose at row level rather than
    merely coexisting.  Every cross-check from both paths is
    retained — logical-name-in-file, footer-vs-stats, descriptor
    cardinality, CRC, position bounds."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_dvcm_scan,
        synthesize_delta_dvcm_media,
    )

    media = synthesize_delta_dvcm_media(_t(spark, sf_dir, "documents"))
    return extract_delta_dvcm_scan(media).select(
        "media_id", "mapping_mode", "min_reader_version", "live_files",
        "files_with_dv", "total_rows", "deleted_rows", "live_rows",
        "surviving_v_sum", "probe_matches",
    )


@register(
    "delta_v2_checkpoint_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 4 + doc_id % 3 AS n FROM documents),
    f AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, n, i,
             40 + (media_id + i) % 60
               + CASE WHEN i = 0 THEN 5 ELSE 0 END AS rows_,
             media_id % n AS k
      FROM f)
    SELECT media_id,
           CAST(1 AS INTEGER) AS checkpoint_version,
           CAST(2 AS INTEGER) AS current_version,
           CAST(1 AS INTEGER) AS json_commits_replayed,
           CAST(2 AS INTEGER) AS sidecar_files,
           CAST(max(n) AS INTEGER) AS live_files,
           CAST(3 AS INTEGER) AS min_reader_version,
           CAST(max(n) - 1 AS INTEGER) AS files_pruned,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN i = k THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(rows_) AS BIGINT) AS total_live_rows,
           CAST(sum(CASE WHEN i = k THEN (rows_ - 18) // 40 + 1
                         ELSE 0 END) AS BIGINT) AS probe_matches
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "v2-checkpoint",
          "sidecars", "mapInPandas"),
)
def q_delta_v2_checkpoint_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta V2 CHECKPOINTS (round 11 continuation): the modern
    checkpoint form behind the ``v2Checkpoint`` reader feature —
    a UUID-named checkpoint parquet carrying protocol / metaData /
    exactly one ``checkpointMetadata`` action (version agreement
    with the file name enforced) plus ``sidecar`` pointers, with the
    add actions living in SIDECAR parquet files under
    ``_delta_log/_sidecars/`` (sizeInBytes cross-checked).  A
    classic-checkpoint reader cannot read this table at all — the
    fixture has no ``<v>.checkpoint.parquet`` — and the spec's
    either-inline-or-sidecar rule is enforced (mixing loud-rejects,
    as do missing checkpointMetadata, version disagreement, >64
    sidecars, and path traversal in sidecar names).  One JSON commit
    replays on top (slot-0 replace), so the usual tombstone +
    stats-pruning + probe battery runs THROUGH the v2 state."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_v2cp_scan,
        synthesize_delta_v2cp_media,
    )

    media = synthesize_delta_v2cp_media(_t(spark, sf_dir, "documents"))
    return extract_delta_v2cp_scan(media).select(
        "media_id", "checkpoint_version", "current_version",
        "json_commits_replayed", "sidecar_files", "live_files",
        "min_reader_version", "files_pruned", "files_scanned",
        "rows_scanned", "total_live_rows", "probe_matches",
    )


@register(
    "delta_time_travel",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 3 AS n0 FROM documents),
    f AS (
      SELECT media_id, n0, unnest(generate_series(0, n0 + 2)) AS i
      FROM m),
    r AS (
      SELECT media_id, n0, i,
             40 + (media_id + i) % 60 AS rows_,
             media_id % (n0 + 2) AS k
      FROM f)
    SELECT media_id,
           CAST(1 AS INTEGER) AS checkpoint_version,
           CAST(3 AS INTEGER) AS current_version,
           CAST(3 AS INTEGER) AS versions_readable,
           CAST(max(n0) + 2 AS INTEGER) AS live_files_v1,
           CAST(max(n0) + 3 AS INTEGER) AS live_files_current,
           CAST(sum(CASE WHEN i < n0 + 2 THEN rows_ ELSE 0 END)
                AS BIGINT) AS total_rows_v1,
           CAST(sum(CASE WHEN i < n0 + 2 THEN rows_ ELSE 0 END) + 5
                AS BIGINT) AS total_rows_v2,
           CAST(sum(rows_) + 5 AS BIGINT) AS total_rows_current,
           CAST(sum(CASE WHEN i = k THEN (rows_ - 18) // 40 + 1
                         ELSE 0 END) AS BIGINT) AS probe_matches_v1,
           CAST(sum(CASE WHEN i = k THEN
                         (rows_ + CASE WHEN k = 0 THEN 5 ELSE 0 END
                          - 18) // 40 + 1
                         ELSE 0 END) AS BIGINT)
             AS probe_matches_current
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "time-travel",
          "mapInPandas"),
)
def q_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake TIME TRAVEL by version (round 11 continuation —
    the Delta sibling of ``iceberg_time_travel_scan``): the replay
    trace snapshots the live-file state at the checkpoint and after
    every commit, and the SAME point lookup is served at each
    version.  The fixture's history is three readable versions:
    v1 = checkpoint (the pre-checkpoint JSONs are vacuumed), v2
    REPLACES slot 0 with a +5-row file over the same window, v3
    APPENDS a fresh file in its own window.  A reader that unions
    history or applies v2's remove retroactively breaks
    ``total_rows_v1``/``probe_matches_v1``; one that forgets the v3
    append breaks the current-side columns.  Per-version totals are
    stats-declared and the probe is re-scanned against the actual
    parquet at every version (footers cross-checked); the version
    count is fenced to 64 (CPU-amplification class)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_tt_scan,
        synthesize_delta_tt_media,
    )

    media = synthesize_delta_tt_media(_t(spark, sf_dir, "documents"))
    return extract_delta_tt_scan(media).select(
        "media_id", "checkpoint_version", "current_version",
        "versions_readable", "live_files_v1", "live_files_current",
        "total_rows_v1", "total_rows_v2", "total_rows_current",
        "probe_matches_v1", "probe_matches_current",
    )


@register(
    "avro_corpus_rollup",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 3 AS nb,
             12 + (doc_id * 7) % 40 AS npb
      FROM documents),
    bl AS (
      SELECT media_id, nb, npb, unnest(generate_series(0, nb - 1)) AS b
      FROM m),
    r AS (
      SELECT media_id, npb, b,
             unnest(generate_series(0, npb - 1)) AS i
      FROM bl),
    v AS (
      SELECT 'doc-' || CAST((media_id + i + b) % 37 AS VARCHAR) AS name,
             (media_id * 13 + i * 7 + b) % 5000 - 1000 AS id,
             ((media_id + i * 3 + b) % 16) * 0.25 AS ratio,
             CASE WHEN (i + b) % 3 = 0 THEN 1 ELSE 0 END AS ok,
             CASE WHEN (i + media_id) % 5 = 2 THEN NULL
                  ELSE (i * 11 + b) % 400 END AS opt
      FROM r)
    SELECT name,
           CAST(count(*) AS BIGINT) AS n_records,
           CAST(sum(id) AS BIGINT) AS id_sum,
           CAST(sum(ratio) AS DOUBLE) AS ratio_sum,
           CAST(sum(ok) AS BIGINT) AS n_ok,
           CAST(sum(CASE WHEN opt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_opt_null
    FROM v
    GROUP BY name
    """,
    tags=("sources", "avro", "explode", "rollup", "mapInPandas"),
)
def q_avro_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro corpus rollup ACROSS files (round 10) — the
    Python-narrow/JVM-wide handoff (``explode_avro_records``)
    applied to the row-major container: Python decodes each
    container's blocks into TYPED rows once, then the cross-file
    groupBy(name) aggregation runs entirely in whole-stage codegen
    over compact columns — the shape an Avro ingest keeps at 100 TB,
    where the shuffle must carry typed columns, never raw payloads.
    The oracle recomputes the 37-key rollup from the writer formulas
    over every (document, block, record) triple; ratio values are
    exact binary quarters so the double sums stay order-independent."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_avro_records,
        synthesize_avro_media,
    )

    media = synthesize_avro_media(_t(spark, sf_dir, "documents"))
    rows = explode_avro_records(media)
    return rows.groupBy("name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
        F.sum("id").cast("bigint").alias("id_sum"),
        F.sum("ratio").cast("double").alias("ratio_sum"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0))
        .cast("bigint").alias("n_ok"),
        F.sum(F.when(F.col("opt").isNull(), 1).otherwise(0))
        .cast("bigint").alias("n_opt_null"),
    )


@register(
    "parquet_page_index_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 400 + (doc_id * 37) % 800 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, n, i,
             CASE WHEN (i + media_id) % 11 = 7 THEN NULL
                  ELSE (media_id * 7 + i * 3) % 997 END AS v
      FROM r)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(min(v) AS BIGINT) AS v_min,
           CAST(max(v) AS BIGINT) AS v_max,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS v_null_sum,
           CAST(0 AS BIGINT) AS k_min,
           CAST(max(n) - 1 AS BIGINT) AS k_max,
           TRUE AS k_ascending,
           CAST(1 AS INTEGER) AS pages_touched_point
    FROM v
    GROUP BY media_id
    """,
    tags=("sources", "parquet", "thrift", "data-skipping",
          "mapInPandas"),
)
def q_parquet_page_index_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet PAGE INDEX scan (round 10) — the data-skipping
    structure a 100 TB lake reads BEFORE touching any page: per-page
    min/max/null-count statistics (ColumnIndex) and page locations
    keyed by first row index (OffsetIndex), both thrift-compact
    structs addressed from ColumnChunk fields 4-7, decoded by the
    same hand wire walker as the footer
    (``functions/parquet_pageindex.py``).  The scan cross-checks the
    two indexes page-for-page (counts equal, first_row_index
    starting at 0 and strictly increasing, offsets in-bounds and
    increasing), reduces the page stats to SPLIT-INDEPENDENT
    aggregates the oracle recomputes exactly (global min/max over
    page bounds = true column min/max; null-count sum = true null
    total), verifies the ascending column is flagged
    ``boundary_order=ASCENDING``, and demos the pruning win: a point
    lookup on the sorted column touches exactly ONE page however
    pyarrow split them.  Producer: pyarrow ``write_page_index=True``
    with 512-byte pages, so every file carries dozens of pages."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_parquet_page_index,
        synthesize_parquet_page_index_media,
    )

    media = synthesize_parquet_page_index_media(
        _t(spark, sf_dir, "documents")
    )
    return extract_parquet_page_index(media).select(
        "media_id", "n_rows", "v_min", "v_max", "v_null_sum",
        "k_min", "k_max", "k_ascending", "pages_touched_point",
    )


@register(
    "parquet_footer_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + (doc_id * 7) % 300 AS nr,
             2 + doc_id % 3 AS nc
      FROM documents)
    SELECT media_id,
           CAST(2 AS INTEGER) AS version,
           CAST(nr AS BIGINT) AS n_rows,
           CAST((nr + 24) // 25 AS INTEGER) AS n_row_groups,
           CAST(nc AS INTEGER) AS n_columns
    FROM m
    """,
    tags=("sources", "parquet", "thrift", "mapInPandas", "triage"),
)
def q_parquet_footer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER triage, value-checked (round 8): the engine's
    OWN storage format scanned from raw bytes — synthesize one real
    parquet file per document with PYARROW (a genuinely independent
    producer, like stdlib zipfile for the ZIP scan) and parse the
    FileMetaData footer by hand inside Arrow-batched mapInPandas:
    the PAR1 magic + u32le length tail, then the Thrift COMPACT
    protocol (delta-encoded field headers, zigzag varints,
    size-prefixed lists, nested structs with unknown-field skip —
    the forward-compatibility contract protobuf-style readers need).
    Extracts version / num_rows / row-group count / leaf-column
    count, and CHECKS the per-row-group row sums against the file
    total (an inconsistent footer fails loudly).

    This is how a 100 TB lakehouse plans work: splits and file
    pruning read the last few KB of each file, never the column
    chunks — the read-the-index-not-the-data shape of the ZIP
    central-directory scan, applied to the engine's own tables. The
    oracle recomputes every field from the writer plan; created_by
    and byte sizes are producer-dependent and pinned in
    ``tests/test_parquet_footer.py`` (which also scans the DRIVER'S
    testdata files — a second independent producer)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_parquet_footer,
        synthesize_parquet_media,
    )

    media = synthesize_parquet_media(_t(spark, sf_dir, "documents"))
    return extract_parquet_footer(media).select(
        "media_id", "version", "n_rows", "n_row_groups", "n_columns"
    )


@register(
    "parquet_page_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 20 + (doc_id * 7) % 300 AS nr
      FROM documents),
    r AS (
      SELECT media_id, nr, unnest(generate_series(0, nr - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, nr, i,
             CASE WHEN (i + media_id) % 7 = 0 THEN NULL
                  ELSE (media_id * 3 + i * 5) % 1000 END AS a,
             (i * 11 + media_id) % 500 AS b,
             1 + (i + media_id) % 5 AS clen,
             (i * 7 + media_id) % 1000 AS d
      FROM r)
    SELECT media_id,
           CAST(max(nr) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(a), 0) AS BIGINT) AS a_sum,
           CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS a_nulls,
           CAST(sum(b) AS BIGINT) AS b_sum,
           CAST(sum(clen) AS BIGINT) AS c_len_sum,
           CAST(count(DISTINCT clen) AS INTEGER) AS c_distinct,
           CAST(sum(d) AS BIGINT) AS d_sum
    FROM v
    GROUP BY media_id
    """,
    tags=("sources", "parquet", "thrift", "rle", "mapInPandas"),
)
def q_parquet_page_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet DATA-PAGE value decode, value-checked (round 8): past
    the footer triage of ``parquet_footer_scan`` and into the column
    chunks — the read path a 100 TB engine runs per split AFTER
    planning has pruned the files.  One real parquet file per
    document, written by PYARROW (independent producer) with the full
    encoding rotation by seed: V1 and V2 data pages, dictionary
    on/off, DELTA_BINARY_PACKED ints + DELTA(_LENGTH)_BYTE_ARRAY
    strings + BYTE_STREAM_SPLIT doubles on the high seeds (round 13
    completed the encoding set), gzip/snappy/zstd/uncompressed
    codecs, multiple row groups AND multiple pages per chunk
    (data_page_size=256).  The hand-rolled reader
    (``functions/parquet_pages.py``) walks Thrift-compact
    PageHeaders, decodes RLE/bit-packed-hybrid definition levels
    (u32-prefixed in V1, header-sized and never-compressed in V2),
    PLAIN values (int64/int32/byte-array), dictionary indices
    (bit-width-prefixed hybrid through the PLAIN dictionary page),
    and DELTA_BINARY_PACKED blocks (zigzag first/min-delta varints,
    per-miniblock widths, LSB-first packed adjusted deltas),
    reassembles nulls from the levels, and CHECKS the decoded row
    count against the footer's num_rows.  Aggregates (null-aware sum,
    null count, string-length sum, distinct count) are recomputed by
    the oracle from the writer plan — byte-exact value recovery from
    third-party bytes, the same parser-vs-independent-producer pin as
    the ZIP/tar scans.  GZIP pages decode via RFC 1952; snappy/zstd
    raise the documented ValueError boundary."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_parquet_values,
        synthesize_parquet_data_media,
    )

    media = synthesize_parquet_data_media(_t(spark, sf_dir, "documents"))
    return extract_parquet_values(media).select(
        "media_id", "n_rows", "a_sum", "a_nulls", "b_sum", "c_len_sum",
        "c_distinct", "d_sum",
    )


@register(
    "warc_record_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 4 AS p FROM documents),
    e AS (
      SELECT media_id, p, unnest(generate_series(0, p - 1)) AS i
      FROM m),
    s AS (
      SELECT media_id, p,
             40 + (media_id + i * 3) % 60 AS req,
             100 + (media_id * 7 + i * 13) % 400 AS resp
      FROM e)
    SELECT media_id,
           CAST(1 + 2 * max(p) AS INTEGER) AS n_records,
           CAST(max(p) AS INTEGER) AS n_responses,
           CAST(max(p) AS INTEGER) AS n_requests,
           CAST(max(p) AS INTEGER) AS n_distinct_uris,
           CAST(38 + sum(req) + sum(resp) AS BIGINT) AS payload_bytes,
           CAST(sum(resp) AS BIGINT) AS response_bytes
    FROM s
    GROUP BY media_id
    """,
    tags=("sources", "warc", "crawl", "gzip", "mapInPandas"),
)
def q_warc_record_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive split, value-checked (round 8): the single
    most on-theme source reader in the repo — web-scale training
    corpora arrive as .warc.gz (Common Crawl ships ~100 TB of it),
    and BEFORE any dedup/quality/language stage can run, the engine
    must split crawl archives into records.  One spec-conformant
    .warc.gz per document (ISO 28500 grammar; the standard
    ONE-RECORD-PER-GZIP-MEMBER layout whose member boundaries are
    what let a distributed reader split work); the scan
    (``functions/warc.py``) walks gzip members with per-member
    CRC32+ISIZE verification, then parses each record's version
    line, header fields, Content-Length payload, and mandatory
    CRLF-CRLF terminator.  Counts by record type, distinct target
    URIs, and payload byte sums are recomputed by the oracle from
    the writer plan.  Plain uncompressed .warc parses through the
    same grammar (test-pinned)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_warc_scan,
        synthesize_warc_media,
    )

    media = synthesize_warc_media(_t(spark, sf_dir, "documents"))
    return extract_warc_scan(media).select(
        "media_id", "n_records", "n_responses", "n_requests",
        "n_distinct_uris", "payload_bytes", "response_bytes",
    )


@register(
    "warc_response_text_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 3 AS nr FROM documents),
    r AS (
      SELECT media_id, nr, unnest(generate_series(0, nr - 1)) AS i
      FROM m),
    t AS (
      SELECT media_id, nr, i, 20 + (media_id + i) % 30 AS ntok
      FROM r),
    tok AS (
      SELECT media_id, i,
             (media_id * 3 + i + unnest(generate_series(0, ntok - 1)))
               % 10 AS w
      FROM t)
    SELECT media_id,
           CAST((SELECT max(nr) FROM t t2
                 WHERE t2.media_id = tok.media_id) AS INTEGER)
             AS n_responses,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT w) AS INTEGER) AS n_distinct_tokens
    FROM tok
    GROUP BY media_id
    """,
    tags=("sources", "warc", "crawl", "composition", "text"),
)
def q_warc_response_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC -> TEXT PIPELINE composition, value-checked (round 8):
    the handoff a real crawl pipeline makes — the Python stage ONLY
    splits archives into records (``explode_warc_records``, one
    output row per record with UTF-8-replacement decode), and
    everything downstream runs JVM-side in whole-stage codegen:
    filter to responses, ``split`` on whitespace, ``explode`` to
    tokens, aggregate counts and distinct vocabulary per archive.
    The oracle replays the token formula entirely in SQL, so both
    the record split AND the tokenization are value-checked
    end-to-end."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_warc_records,
        synthesize_warc_text_media,
    )

    media = synthesize_warc_text_media(_t(spark, sf_dir, "documents"))
    recs = explode_warc_records(media)
    toks = recs.where(F.col("rec_type") == "response").select(
        "media_id",
        "rec_idx",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    return toks.groupBy("media_id").agg(
        F.count_distinct("rec_idx").cast("int").alias("n_responses"),
        F.count("*").alias("n_tokens"),
        F.count_distinct("tok").cast("int").alias("n_distinct_tokens"),
    )


@register(
    "arrow_ipc_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             1 + doc_id % 3 AS nb,
             10 + (doc_id * 3) % 40 AS rpb,
             2 + doc_id % 3 AS nc
      FROM documents)
    SELECT media_id,
           CAST(nc AS INTEGER) AS n_columns,
           CAST(nb AS INTEGER) AS n_batches,
           CAST(0 AS INTEGER) AS n_dict_batches,
           CAST(nb * rpb AS BIGINT) AS n_rows
    FROM m
    """,
    tags=("sources", "arrow", "flatbuffers", "mapInPandas", "triage"),
)
def q_arrow_ipc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather V2) triage, value-checked (round 8): the
    interchange format of the engine's OWN runtime — every
    mapInPandas batch crosses the JVM/Python boundary as Arrow — and
    the third wire format of the serialization trio (Thrift compact
    for parquet footers, protobuf for ORC tails, FLATBUFFERS here),
    all parsed from public specs.  One real multi-batch .arrow file
    per document from pyarrow's writer (independent producer); the
    hand-rolled flatbuffer walker (``functions/arrow_ipc.py``) reads
    the Footer table through its vtable (soffset -> vtable -> field
    slots), the schema's field vector for column count, the 24-byte
    Block structs, then follows each block to its encapsulated
    Message flatbuffer for the RecordBatch ROW COUNT, cross-checking
    footer vs message body lengths.  The oracle recomputes batch/row/
    column counts from the writer plan.  Every offset is
    bounds-checked — a crafted vtable quarantines, never segfault-
    style reads."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_arrow_scan,
        synthesize_arrow_media,
    )

    media = synthesize_arrow_media(_t(spark, sf_dir, "documents"))
    return extract_arrow_scan(media).select(
        "media_id", "n_columns", "n_batches", "n_dict_batches", "n_rows"
    )


@register(
    "xz_container_scan",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_streams,
           CAST(1 + doc_id % 2 AS INTEGER) AS n_blocks,
           CAST(500 + (doc_id * 13) % 1000
                + CASE WHEN doc_id % 2 = 1
                       THEN 300 + (doc_id * 7) % 500 ELSE 0 END
                AS BIGINT) AS uncompressed_total,
           CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                WHEN 2 THEN 4 ELSE 10 END AS INTEGER) AS check_type
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "xz", "triage"),
)
def q_xz_container_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XZ container triage, value-checked (round 8): the third
    archive codec real dumps ship (kernel tarballs, multi-part data
    dumps).  One real .xz per document from STDLIB lzma, check types
    rotating none/CRC32/CRC64/SHA-256 and odd documents carrying
    genuinely CONCATENATED streams.  The scan
    (``functions/xz_scan.py``) walks footers BACKWARD — footer magic
    + CRC, backward-size to the index, index records to the block
    map, then forward over every block header — verifying every
    CRC32 in the container skeleton, the same
    read-the-index-not-the-data shape as the ZIP central directory
    and the parquet footer.  Full LZMA2 decode is the documented
    boundary (range coding); the triage is what split planning needs:
    stream/block counts and declared plaintext, recomputed by the
    oracle from the writer plan."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_xz_scan,
        synthesize_xz_media,
    )

    media = synthesize_xz_media(_t(spark, sf_dir, "documents"))
    return extract_xz_scan(media).select(
        "media_id", "n_streams", "n_blocks", "uncompressed_total",
        "check_type",
    )


@register(
    "xz_full_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 60 + (doc_id * 17) % 200 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, i,
             (media_id * 31 + i * 7) % 9973 AS val,
             length('line ' || CAST(i AS VARCHAR) || ' of doc '
                    || CAST(media_id AS VARCHAR) || ' value '
                    || CAST((media_id * 31 + i * 7) % 9973 AS VARCHAR))
               + 1 AS lchars
      FROM r)
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(lchars) AS BIGINT) AS n_chars,
           CAST(sum(val) AS BIGINT) AS value_sum,
           CAST(count(DISTINCT val) AS INTEGER) AS n_distinct_values
    FROM v
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "xz", "lzma", "codec"),
)
def q_xz_full_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL .xz decode, value-checked — the full-decode companion of
    the container triage in `xz_container_scan`.
    ``functions/lzma_codec.py`` decodes through liblzma, which
    verifies every container CRC32 AND the per-block plaintext check
    (CRC32 / CRC64 / SHA-256, rotating by document).  Odd documents
    ship as two concatenated streams.  The producer is STDLIB liblzma (independent
    implementation); Python only decodes payload -> text, and the
    line split / value extraction / aggregation all run JVM-side
    (the narrow-Python/wide-JVM split of ``pdf_corpus_text_stats``).
    The oracle recomputes every stat from the synthesis plan, so any
    wrong recovered byte breaks the value hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_xz_decode,
        synthesize_xz_text_media,
    )

    media = synthesize_xz_text_media(_t(spark, sf_dir, "documents"))
    txt = extract_xz_decode(media)
    lines = txt.select(
        "media_id",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).where(F.col("line") != "")
    vals = lines.select(
        "media_id",
        (F.length("line") + F.lit(1)).alias("lchars"),
        F.regexp_extract("line", "value ([0-9]+)$", 1)
        .cast("int")
        .alias("val"),
    )
    return vals.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("lchars").cast("bigint").alias("n_chars"),
        F.sum("val").cast("bigint").alias("value_sum"),
        F.countDistinct("val").cast("int").alias("n_distinct_values"),
    )


@register(
    "warc_zstd_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 4 AS p FROM documents),
    e AS (
      SELECT media_id, p, unnest(generate_series(0, p - 1)) AS i
      FROM m),
    s AS (
      SELECT media_id, p,
             40 + (media_id + i * 3) % 60 AS req,
             100 + (media_id * 7 + i * 13) % 400 AS resp
      FROM e)
    SELECT media_id,
           CAST(1 + 2 * max(p) AS INTEGER) AS n_records,
           CAST(max(p) AS INTEGER) AS n_responses,
           CAST(max(p) AS INTEGER) AS n_requests,
           CAST(max(p) AS INTEGER) AS n_distinct_uris,
           CAST(38 + sum(req) + sum(resp) AS BIGINT) AS payload_bytes,
           CAST(sum(resp) AS BIGINT) AS response_bytes
    FROM s
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "warc", "zstd", "crawl"),
)
def q_warc_zstd_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """.warc.zst crawl-archive scan (round 9) — the container
    Common Crawl DISTRIBUTES today (the .gz mirrors are legacy):
    concatenated zstd frames each holding a run of records, behind a
    SKIPPABLE frame (generic ``0x184D2A50`` marker here; the
    dict-trained layout with the ``0x184D2A5D`` dictionary frame is
    ``warc_zstd_dict_scan``'s fixture).  The scan composes the round-10 hand zstd decoder
    (``zstd_codec.py`` — FSE/huffman/sequences, frame walk) with the
    round-8 ISO 28500 record grammar (``warc.py``), and the oracle
    is IDENTICAL to `warc_record_scan`'s — same record plan, second
    container — so the two containers' aggregates must agree
    hash-exactly."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_warc_scan,
        synthesize_warc_zst_media,
    )

    media = synthesize_warc_zst_media(_t(spark, sf_dir, "documents"))
    return extract_warc_scan(media).select(
        "media_id", "n_records", "n_responses", "n_requests",
        "n_distinct_uris", "payload_bytes", "response_bytes",
    )


@register(
    "warc_zstd_dict_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 4 AS p FROM documents
      WHERE doc_id % 16 = 0),
    e AS (
      SELECT media_id, p, unnest(generate_series(0, p - 1)) AS i
      FROM m),
    s AS (
      SELECT media_id, p,
             40 + (media_id + i * 3) % 60 AS req,
             100 + (media_id * 7 + i * 13) % 400 AS resp
      FROM e)
    SELECT media_id,
           CAST(1 + 2 * max(p) AS INTEGER) AS n_records,
           CAST(max(p) AS INTEGER) AS n_responses,
           CAST(max(p) AS INTEGER) AS n_requests,
           CAST(max(p) AS INTEGER) AS n_distinct_uris,
           CAST(38 + sum(req) + sum(resp) AS BIGINT) AS payload_bytes,
           CAST(sum(resp) AS BIGINT) AS response_bytes
    FROM s
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "warc", "zstd", "dictionary",
          "crawl"),
)
def q_warc_zstd_dict_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICT-compressed .warc.zst scan (round 10) — the missing half
    of the Common Crawl container story: the REAL feed trains a
    shared zstd dictionary per file, stores it in the leading
    ``0x184D2A5D`` skippable frame (IIPC warc-zstd convention), and
    compresses every record frame WITH it, so each frame header
    declares a dictionary-id.  The scan lifts the dictionary
    (``warc.py:lift_warc_dictionary`` — raw or itself
    zstd-compressed), parses RFC 8878 §5's dictionary format
    (``zstd_codec.py:parse_zstd_dictionary`` — entropy tables seeding
    repeat/treeless modes, initial repcodes, content as match
    history), and decodes the frames against it.  Producer: the zstd
    CLI binary (``--train`` + ``-D``) — a THIRD independent producer
    for the zstd family.  Ids are sampled (``doc_id % 16 = 0``)
    because synthesis costs two CLI subprocesses per payload; the
    aggregates equal ``warc_record_scan``'s on the sampled ids (same
    record plan, third container)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_warc_scan,
        synthesize_warc_zst_dict_media,
    )

    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % 16 == 0
    )
    media = synthesize_warc_zst_dict_media(docs)
    return extract_warc_scan(media).select(
        "media_id", "n_records", "n_responses", "n_requests",
        "n_distinct_uris", "payload_bytes", "response_bytes",
    )


@register(
    "zstd_frame_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 80 + (doc_id * 19) % 240 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, i,
             (media_id * 17 + i * 11) % 7919 AS val,
             length('row ' || CAST(i AS VARCHAR) || ' doc '
                    || CAST(media_id AS VARCHAR) || ' v '
                    || CAST((media_id * 17 + i * 11) % 7919 AS VARCHAR))
               + 1 AS lchars
      FROM r)
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(lchars) AS BIGINT) AS n_chars,
           CAST(sum(val) AS BIGINT) AS value_sum,
           CAST(count(DISTINCT val) AS INTEGER) AS n_distinct_values
    FROM v
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "zstd", "fse", "codec"),
)
def q_zstd_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL zstd decode, value-checked (round 9) — the FOURTH
    distinct entropy stack in the codec family, and the one modern
    corpora actually ship in (Common Crawl mirrors, parquet's
    fastest-growing codec): **FSE/tANS** (``functions/zstd_codec.py``,
    from RFC 8878).  By hand: normalized-count table descriptions
    (the ``value - 1`` convention, less-than-one cells from the
    table's end, 2-bit zero-run repeats), the
    ``(size>>1)+(size>>3)+3`` spread, baseline/nbBits state
    assignment; Huffman literals with BOTH tree-description kinds
    (direct 4-bit weights and FSE-compressed weights drained by two
    interleaved states), the implied last weight, 1- and 4-stream
    layouts; sequences with predefined/RLE/FSE/repeat table modes
    and the 3-slot repeat-offset cache including the
    ``literal_length == 0`` shift; frames/blocks/skippable frames;
    and hand-rolled xxh64 verifying content checksums.  Pinned
    against TWO independent producers — libzstd via pyarrow (this
    query's synthesis, levels 1/3/9/19, concatenated frames on odd
    documents) and the zstd CLI binary with live checksums in
    ``tests/test_zstd_codec.py``.  Stats are computed JVM-side from
    the recovered text; the oracle recomputes them from the plan."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_zstd_decode,
        synthesize_zstd_media,
    )

    media = synthesize_zstd_media(_t(spark, sf_dir, "documents"))
    txt = extract_zstd_decode(media)
    lines = txt.select(
        "media_id",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    ).where(F.col("line") != "")
    vals = lines.select(
        "media_id",
        (F.length("line") + F.lit(1)).alias("lchars"),
        F.regexp_extract("line", "v ([0-9]+)$", 1).cast("int").alias("val"),
    )
    return vals.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("lchars").cast("bigint").alias("n_chars"),
        F.sum("val").cast("bigint").alias("value_sum"),
        F.countDistinct("val").cast("int").alias("n_distinct_values"),
    )


@register(
    "lz4_frame_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1500 + (doc_id * 23) % 2500 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, n, ((i // 5) * 7 + media_id) % 240 AS b
      FROM r)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_bytes,
           CAST(sum(b) AS BIGINT) AS byte_sum,
           CAST(count(DISTINCT b) AS INTEGER) AS n_distinct
    FROM v
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "lz4", "xxhash", "codec"),
)
def q_lz4_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL LZ4 frame decode, value-checked (round 9) — with the
    round-10 snappy decoder (now wired into `parquet_page_decode`'s
    codec rotation), this completes the BIG-DATA block-codec family
    the archive trio (gzip/bzip2/xz) doesn't cover: LZ4 is the
    Kafka/parquet/Arrow-body wire codec.  Two layers, both by hand
    (``functions/lz4_codec.py``): the token-nibble BLOCK format
    (255-extension lengths, 2-byte offsets, forward-overlap match
    copies, linked-block history spanning block boundaries) and the
    FRAME format (FLG/BD descriptor, stored-block flag bit, end
    mark) — including xxHash32 implemented from its public spec and
    VERIFIED live against every header/content checksum the
    reference-C producer (pyarrow) writes, plus its published test
    vectors.  The oracle recomputes plaintext length, byte sum, and
    distinct count from the data formula."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_lz4_decode,
        synthesize_lz4_media,
    )

    media = synthesize_lz4_media(_t(spark, sf_dir, "documents"))
    return extract_lz4_decode(media).select(
        "media_id", "n_bytes", "byte_sum", "n_distinct"
    )


@register(
    "arrow_stream_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 1 + doc_id % 3 AS nb,
             15 + (doc_id * 7) % 40 AS n
      FROM documents),
    bt AS (
      SELECT s, nb, n, unnest(generate_series(0, nb - 1)) AS b FROM m),
    r AS (
      SELECT s, nb, n, b, unnest(generate_series(0, n - 1)) AS i
      FROM bt),
    v AS (
      SELECT s, nb, b, i,
             CASE WHEN (s + i) % 7 = 3 THEN NULL
                  ELSE (s * 11 + i * 13 + b * 3) % 2000 - 700 END AS v64,
             (s * 5 + i * 9 + b) % 500 AS v32,
             CASE WHEN (i + b) % 5 = 4 THEN NULL
                  ELSE length('t' || CAST((s + i + b) % 50 AS VARCHAR))
                  END AS tlen
      FROM r)
    SELECT s AS media_id,
           CAST(max(nb) AS INTEGER) AS n_batches,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(v64), 0) + sum(v32) AS BIGINT) AS int_sum,
           CAST(sum(CASE WHEN v64 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS int_nulls,
           CAST(coalesce(sum(tlen), 0) AS BIGINT) AS str_chars,
           CAST(sum(CASE WHEN tlen IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS str_nulls
    FROM v
    GROUP BY s
    """,
    tags=("multimodal", "mapInPandas", "arrow", "streaming", "codec"),
)
def q_arrow_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC STREAMING-format decode (round 9) — the
    footer-less twin of `arrow_ipc_value_decode`: the wire layout
    Flight sockets and pipe handoffs use, where there is no footer
    to seek to and the reader must carry schema state forward — a
    Schema message first, record batches after, the end-of-stream
    marker (continuation + zero metadata length) last (dictionary
    batches: see ``arrow_dict_delta_stream``).  Batch value decoding (validity
    bitmaps, buffer bounds, preorder walk) is shared code with the
    file-format path, so both layouts are pinned by the same oracle
    family against the pyarrow stream writer."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_arrow_stream,
        synthesize_arrow_stream_media,
    )

    media = synthesize_arrow_stream_media(_t(spark, sf_dir, "documents"))
    return extract_arrow_stream(media).select(
        "media_id", "n_batches", "n_rows", "int_sum", "int_nulls",
        "str_chars", "str_nulls",
    )


@register(
    "arrow_dict_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 1 + doc_id % 2 AS nb,
             20 + (doc_id * 3) % 40 AS n,
             3 + doc_id % 4 AS k, 2 + doc_id % 3 AS k2
      FROM documents),
    bt AS (
      SELECT s, nb, n, k, k2, unnest(generate_series(0, nb - 1)) AS b
      FROM m),
    r AS (
      SELECT s, nb, n, k, k2, b, unnest(generate_series(0, n - 1)) AS i
      FROM bt),
    v AS (
      SELECT s, nb, b, i,
             CASE WHEN (i + b) % 6 = 5 THEN NULL
                  ELSE length('cat' || CAST((s + i * 7 + b) % k
                                            AS VARCHAR)) END AS clen,
             s + 100 * ((i + b) % k2) AS code,
             CASE WHEN (s + i) % 9 = 2 THEN NULL
                  ELSE (s * 11 + i * 13 + b * 5) % 3000 - 1000
                  END AS v64
      FROM r)
    SELECT s AS media_id,
           CAST(max(nb) AS INTEGER) AS n_batches,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(code) + coalesce(sum(v64), 0) AS BIGINT) AS int_sum,
           CAST(sum(CASE WHEN v64 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS int_nulls,
           CAST(coalesce(sum(clen), 0) AS BIGINT) AS str_chars,
           CAST(sum(CASE WHEN clen IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS str_nulls
    FROM v
    GROUP BY s
    """,
    tags=("multimodal", "mapInPandas", "arrow", "dictionary", "codec"),
)
def q_arrow_dict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC DICTIONARY-ENCODED column decode (round 10) —
    pyarrow's default encoding for low-cardinality strings and the
    round-9 verdict's #3 gap: the schema's ``Field.dictionary``
    (DictionaryEncoding: id, indexType) switches the record batch to
    integer INDICES, and the values arrive in separate
    DictionaryBatch messages listed in the footer's dictionaries
    block vector.  The reader (``functions/arrow_ipc.py``) resolves
    int32 indices into a utf8 dictionary AND int8 indices into an
    int32 dictionary (two ids in one schema), validity on the INDEX
    array, out-of-range indices a loud refusal.  The oracle
    recomputes both dictionaries' contributions exactly."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_arrow_values,
        synthesize_arrow_dict_media,
    )

    media = synthesize_arrow_dict_media(_t(spark, sf_dir, "documents"))
    return extract_arrow_values(media).select(
        "media_id", "n_batches", "n_rows", "int_sum", "int_nulls",
        "str_chars", "str_nulls",
    )


@register(
    "arrow_dict_delta_stream",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 1 + doc_id % 3 AS nb,
             15 + (doc_id * 7) % 30 AS n, 3 + doc_id % 3 AS k0
      FROM documents),
    bt AS (
      SELECT s, nb, n, k0, unnest(generate_series(0, nb - 1)) AS b
      FROM m),
    r AS (
      SELECT s, nb, n, k0, b, unnest(generate_series(0, n - 1)) AS i
      FROM bt),
    v AS (
      SELECT s, nb, b, i,
             CASE WHEN (i + b) % 4 = 3 THEN NULL
                  ELSE length('w' || CAST((s + i * 5 + b) % (k0 + 2 * b)
                                          AS VARCHAR)) END AS wlen,
             CASE WHEN (i + s) % 8 = 6 THEN NULL
                  ELSE (s * 7 + i * 11 + b * 3) % 1000 END AS v64
      FROM r)
    SELECT s AS media_id,
           CAST(max(nb) AS INTEGER) AS n_batches,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(v64), 0) AS BIGINT) AS int_sum,
           CAST(sum(CASE WHEN v64 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS int_nulls,
           CAST(coalesce(sum(wlen), 0) AS BIGINT) AS str_chars,
           CAST(sum(CASE WHEN wlen IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS str_nulls
    FROM v
    GROUP BY s
    """,
    tags=("multimodal", "mapInPandas", "arrow", "dictionary",
          "streaming", "codec"),
)
def q_arrow_dict_delta_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC stream decode with DELTA dictionary batches
    (round 10): the dictionary GROWS two entries per batch
    (``IpcWriteOptions(emit_dictionary_deltas=True)``), so the wire
    carries one initial DictionaryBatch and ``n-1`` ``isDelta``
    batches that APPEND — the accumulate path a long-lived Flight
    feed exercises, where re-sending the whole dictionary per batch
    would defeat the encoding.  Batch ``b``'s indices address the
    first ``k0 + 2b`` entries, so any delta mis-merge (skip, replace
    instead of append, wrong order) shifts the recovered strings and
    breaks the char-length oracle."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_arrow_stream,
        synthesize_arrow_dict_stream_media,
    )

    media = synthesize_arrow_dict_stream_media(
        _t(spark, sf_dir, "documents")
    )
    return extract_arrow_stream(media).select(
        "media_id", "n_batches", "n_rows", "int_sum", "int_nulls",
        "str_chars", "str_nulls",
    )


@register(
    "tfrecord_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 3 + doc_id % 6 AS nr FROM documents),
    r AS (
      SELECT s, nr, unnest(generate_series(0, nr - 1)) AS r FROM m),
    x AS (
      SELECT s, nr, s * 31 + r AS sp FROM r)
    SELECT s AS media_id,
           CAST(max(nr) AS INTEGER) AS n_records,
           CAST(sum(sp % 1000) AS BIGINT) AS event_sum,
           CAST(sum((sp * 37) % 2001 - 1000) AS BIGINT) AS balance_sum,
           CAST(sum(length('rec-' || CAST(sp % 50 AS VARCHAR)))
                AS BIGINT) AS name_chars,
           CAST(sum(sp % 5 + sp % 11 + sp % 17) AS BIGINT) AS packed_sum
    FROM x
    GROUP BY s
    """,
    tags=("multimodal", "mapInPandas", "tfrecord", "protobuf", "crc32c"),
)
def q_tfrecord_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shard scan (round 9) — the sharded-training-data
    container a 100 TB corpus actually ships in, and a two-layer
    composition: the container framing (u64le length + masked
    CRC32C of the length bytes + data + masked CRC32C of the data,
    mask = rot17 + 0xA282EAD8) is walked with BOTH checksums
    verified per record — CRC32C hand-tabled from the Castagnoli
    polynomial and pinned against the published catalogue vector
    ``crc32c('123456789') = 0xE3069283`` — and each record payload
    is then FULLY wire-decoded as protobuf by the round-7
    ``protowire`` codec (varint/zigzag/fixed32/nested/packed +
    unknown-field skip).  The container has no stdlib producer (the
    one documented hand-rolled writer in the codec family), so the
    pin is layered instead: CRC vectors external, record payloads
    against the pre-existing protowire producer/parser pair, and
    every stat recomputed by the oracle from the protowire field
    formulas."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_tfrecord_scan,
        synthesize_tfrecord_media,
    )

    media = synthesize_tfrecord_media(_t(spark, sf_dir, "documents"))
    return extract_tfrecord_scan(media).select(
        "media_id", "n_records", "event_sum", "balance_sum",
        "name_chars", "packed_sum",
    )


@register(
    "tfrecord_compressed_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 4 + doc_id % 5 AS nr FROM documents),
    r AS (
      SELECT s, nr, unnest(generate_series(0, nr - 1)) AS r FROM m),
    x AS (
      SELECT s, nr, s * 47 + r AS sp FROM r)
    SELECT s AS media_id,
           CAST(max(nr) AS INTEGER) AS n_records,
           CAST(sum(sp % 1000) AS BIGINT) AS event_sum,
           CAST(sum((sp * 37) % 2001 - 1000) AS BIGINT) AS balance_sum,
           CAST(sum(length('rec-' || CAST(sp % 50 AS VARCHAR)))
                AS BIGINT) AS name_chars,
           CAST(sum(sp % 5 + sp % 11 + sp % 17) AS BIGINT) AS packed_sum
    FROM x
    GROUP BY s
    """,
    tags=("multimodal", "mapInPandas", "tfrecord", "protobuf",
          "crc32c", "codec"),
)
def q_tfrecord_compressed_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPRESSED TFRecord shard scan (round 10) — how real corpora
    actually ship TFRecord: ``TFRecordOptions('GZIP')`` wraps the
    WHOLE framed stream in gzip (here TWO members split mid-record,
    the rotated-shards-concatenated layout, so record framing must
    reassemble across member boundaries), and ``.tfrecord.zst``
    file-level zstd.  The scan sniffs the magic, inflates through
    the hand gzip/zstd decoders (member CRC32+ISIZE / frame xxh64
    verified), THEN verifies both masked CRC32Cs per record and
    wire-decodes every protobuf payload — three checksum layers end
    to end."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_tfrecord_scan,
        synthesize_tfrecord_compressed_media,
    )

    media = synthesize_tfrecord_compressed_media(
        _t(spark, sf_dir, "documents")
    )
    return extract_tfrecord_scan(media).select(
        "media_id", "n_records", "event_sum", "balance_sum",
        "name_chars", "packed_sum",
    )


@register(
    "arrow_ipc_value_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 1 + doc_id % 2 AS nb,
             20 + (doc_id * 3) % 50 AS n
      FROM documents),
    bt AS (
      SELECT s, nb, n, unnest(generate_series(0, nb - 1)) AS b FROM m),
    r AS (
      SELECT s, nb, n, b, unnest(generate_series(0, n - 1)) AS i
      FROM bt),
    v AS (
      SELECT s, nb, b, i,
             CASE WHEN (s + i) % 7 = 3 THEN NULL
                  ELSE (s * 11 + i * 13 + b * 3) % 2000 - 700 END AS v64,
             (s * 5 + i * 9 + b) % 500 AS v32,
             CASE WHEN (i + b) % 5 = 4 THEN NULL
                  ELSE length('t' || CAST((s + i + b) % 50 AS VARCHAR))
                  END AS tlen
      FROM r)
    SELECT s AS media_id,
           CAST(max(nb) AS INTEGER) AS n_batches,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(v64), 0) + sum(v32) AS BIGINT) AS int_sum,
           CAST(sum(CASE WHEN v64 IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS int_nulls,
           CAST(coalesce(sum(tlen), 0) AS BIGINT) AS str_chars,
           CAST(sum(CASE WHEN tlen IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS str_nulls
    FROM v
    GROUP BY s
    """,
    tags=("multimodal", "mapInPandas", "arrow", "flatbuffers", "codec"),
)
def q_arrow_ipc_value_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC VALUE decode (round 9) — the round-8
    `arrow_ipc_scan` triage counted rows through the hand-rolled
    flatbuffer walk; this query READS them: schema union tags
    resolved to Int{8..64}/Utf8, each batch's FieldNode and Buffer
    structs walked in spec preorder (int: validity+data, utf8:
    validity+offsets+data), LSB-first validity bitmaps honored so
    null-slot bytes (unspecified by the spec) never leak into the
    sums, buffer bounds checked body-relative, and BodyCompression
    (round 13) decoded per-buffer through the repo's HAND lz4-frame/
    zstd decoders with the int64 length prefix verified.  Producer:
    the pyarrow writer with nullable int64/int32/utf8 columns varying
    per batch, body compression rotating uncompressed/LZ4_FRAME/ZSTD
    by seed (values identical across the three).  The oracle
    recomputes exact sums/null counts/char totals from the plan —
    a one-bit validity misread or an offsets-vs-data mixup breaks
    the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_arrow_values,
        synthesize_arrow_values_media,
    )

    media = synthesize_arrow_values_media(_t(spark, sf_dir, "documents"))
    return extract_arrow_values(media).select(
        "media_id", "n_batches", "n_rows", "int_sum", "int_nulls",
        "str_chars", "str_nulls",
    )


@register(
    "npz_tensor_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS s, 2 + doc_id % 2 AS na FROM documents),
    ks AS (
      SELECT s, na, unnest(generate_series(0, na - 1)) AS k FROM m),
    dims AS (
      SELECT s, na, k,
             2 + (s + k) % 3 AS r,
             3 + (s + 2 * k) % 4 AS c,
             CASE WHEN k % 3 = 2 THEN 0 ELSE 1 END AS sgn,
             CASE WHEN (s + k) % 2 = 1 THEN 1 ELSE 0 END AS fort
      FROM ks),
    farr AS (
      SELECT s, CAST(sum(fort) AS INTEGER) AS n_fortran
      FROM dims GROUP BY s),
    rows_ AS (
      SELECT s, k, c, sgn, unnest(generate_series(0, r - 1)) AS i
      FROM dims),
    cells AS (
      SELECT s, k, c, sgn, i, unnest(generate_series(0, c - 1)) AS j
      FROM rows_),
    vals AS (
      SELECT s,
             (s * 7 + k * 11 + i * 5 + j * 3) % 100 - sgn * 50 AS v,
             i * c + j + 1 AS w
      FROM cells)
    SELECT v.s AS media_id,
           CAST(2 + v.s % 2 AS INTEGER) AS n_arrays,
           CAST(count(*) AS BIGINT) AS n_elements,
           CAST(sum(v.v) AS BIGINT) AS value_sum,
           CAST(sum(v.v * v.w) AS BIGINT) AS weighted_sum,
           CAST(max(f.n_fortran) AS INTEGER) AS n_fortran,
           CAST(CASE WHEN v.s % 3 = 0 THEN 2 + v.s % 2 ELSE 0 END
                AS INTEGER) AS n_deflated
    FROM vals v JOIN farr f ON v.s = f.s
    GROUP BY v.s
    """,
    tags=("multimodal", "mapInPandas", "npy", "npz", "tensor", "zip"),
)
def q_npz_tensor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NPY/NPZ tensor files read from raw bytes (round 9) — the
    de-facto tensor interchange format of ML corpora (dataset
    shards, embedding dumps), and a COMPOSITION of existing layers
    plus one new one: the ZIP central-directory walk
    (``zipscan.py``) locates members, the DEFLATE decoder
    (``inflate.py``, stdlib zlib) opens ``savez_compressed`` ones,
    member CRC32s are verified, and the new NPY reader (``npy_scan.py``) parses
    the header dict with a strict regex grammar — never ``eval``,
    the same untrusted-input posture as `pickle_opcode_scan` — then
    decodes the tensor DATA with ``struct`` iteration, independent
    of numpy's buffer machinery.  Fortran-ordered members are
    remapped to logical C order and pinned by a position-WEIGHTED
    checksum: a column-major buffer misread as row-major keeps the
    plain sum but breaks the weighted one.  Producer: np.savez /
    np.savez_compressed rotating by document; dtypes i8/i4/u1 and
    C/Fortran order rotate per member; the oracle recomputes every
    stat from the synthesis plan."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_npz_scan,
        synthesize_npz_media,
    )

    media = synthesize_npz_media(_t(spark, sf_dir, "documents"))
    return extract_npz_scan(media).select(
        "media_id", "n_arrays", "n_elements", "value_sum",
        "weighted_sum", "n_fortran", "n_deflated",
    )


@register(
    "pickle_opcode_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 5 + doc_id % 10 AS n FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, n, i, i % 4 AS kind,
             (media_id * 13 + i * 7) % 100000 - 20000 AS ival,
             1 + i % 3 AS llen
      FROM r)
    SELECT media_id,
           CAST(media_id % 6 AS INTEGER) AS protocol,
           CAST(sum(CASE WHEN kind = 0 THEN 1
                         WHEN kind = 2 THEN llen ELSE 0 END)
                AS BIGINT) AS n_ints,
           CAST(sum(CASE WHEN kind = 0 THEN ival
                         WHEN kind = 2 THEN llen * (media_id % 1000)
                              + 3 * (llen * (llen - 1) // 2)
                         ELSE 0 END) AS BIGINT) AS int_sum,
           CAST(max(n) + sum(CASE WHEN kind = 1 THEN 1 ELSE 0 END)
                + CASE WHEN media_id % 7 = 0 THEN 1 ELSE 0 END
                AS BIGINT) AS n_strings,
           CAST(sum(length('k' || CAST(i AS VARCHAR)))
                + sum(CASE WHEN kind = 1
                      THEN length('s' || CAST(media_id AS VARCHAR)
                                  || 'x' || CAST(i AS VARCHAR))
                      ELSE 0 END)
                + CASE WHEN media_id % 7 = 0 THEN 5 ELSE 0 END
                AS BIGINT) AS str_chars,
           CAST(sum(CASE WHEN kind = 2 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_lists,
           CAST(sum(CASE WHEN kind = 3 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_nones,
           CAST(CASE WHEN media_id % 7 = 0 THEN 1 ELSE 0 END
                AS INTEGER) AS n_globals,
           CASE WHEN media_id % 7 = 0
                THEN 'datawarehouseproject_spark.functions.pickle_scan'
                     || ' _Marker'
                ELSE '' END AS global_names
    FROM v
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "pickle", "security", "triage"),
)
def q_pickle_opcode_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pickle triage WITHOUT unpickling (round 9): ML corpora are
    full of pickle payloads (checkpoints, dataset shards), and
    unpickling untrusted bytes is arbitrary code execution — the
    ingest-side answer is an opcode-grammar WALK
    (``functions/pickle_scan.py``) that frames every argument kind
    (u1..u8/i4, length-prefixed bytes/unicode, protocol-0 text
    lines), collects embedded value stats, and surfaces the
    GLOBAL/STACK_GLOBAL ``module qualname`` references — the exact
    thing that makes a payload dangerous — while importing and
    executing NOTHING.  Protocol rotates 0..5 per document (the same
    object encodes completely differently at each), and the scanner
    keeps the stats protocol-INVARIANT (e.g. retracting the two
    string pushes STACK_GLOBAL consumes), which is what lets ONE
    DuckDB oracle recompute every column from the synthesis plan
    across all six encodings.  Every 7th document carries a real
    class reference; the oracle pins its two-part name."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_pickle_scan,
        synthesize_pickle_media,
    )

    media = synthesize_pickle_media(_t(spark, sf_dir, "documents"))
    return extract_pickle_scan(media).select(
        "media_id", "protocol", "n_ints", "int_sum", "n_strings",
        "str_chars", "n_lists", "n_nones", "n_globals", "global_names",
    )


@register(
    "bz2_corpus_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2000 + (doc_id * 37) % 3000 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, n, ((i // 6) * 13 + media_id) % 250 AS b
      FROM r)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_bytes,
           CAST(sum(b) AS BIGINT) AS byte_sum,
           CAST(count(DISTINCT b) AS INTEGER) AS n_distinct
    FROM v
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "bzip2", "codec"),
)
def q_bz2_corpus_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL bzip2 decode, value-checked (round 8): the other archive
    codec web corpora actually ship (Wikipedia dumps, mail archives)
    — decoded in ``functions/bzip2.py`` through libbz2, with the
    block and stream CRCs verified.  One real .bz2 per document from the
    STDLIB compressor (independent producer), levels rotating 1..9;
    the oracle recomputes plaintext length, byte sum, and distinct
    count from the data formula — so any wrong recovered byte breaks
    the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_bz2_decode,
        synthesize_bz2_media,
    )

    media = synthesize_bz2_media(_t(spark, sf_dir, "documents"))
    return extract_bz2_decode(media).select(
        "media_id", "n_bytes", "byte_sum", "n_distinct"
    )


@register(
    "sqlite_table_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 30 + (doc_id * 11) % 300 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, n, i,
             (media_id * 3 + i * 17) % 1000 - 200 AS score,
             CASE WHEN (i + media_id) % 9 = 8
                  THEN 600 + (i % 3) * 200
                  ELSE 1 + (i + media_id) % 7 END AS nlen,
             CASE WHEN (i + media_id) % 3 = 0 THEN NULL
                  ELSE i % 2 END AS flag
      FROM r)
    SELECT media_id,
           CAST(1 AS INTEGER) AS n_tables,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(n) * (max(n) + 1) // 2 AS BIGINT) AS rowid_sum,
           CAST(sum(score) AS BIGINT) AS score_sum,
           CAST(min(score) AS BIGINT) AS score_min,
           CAST(sum(nlen) AS BIGINT) AS name_len_sum,
           CAST(sum(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS INTEGER)
             AS n_flag_null,
           CAST(coalesce(sum(flag), 0) AS BIGINT) AS flag_sum
    FROM v
    GROUP BY media_id
    """,
    tags=("sources", "sqlite", "btree", "mapInPandas"),
)
def q_sqlite_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite database-file READ, value-checked (round 8): crawled
    corpora and app-data dumps carry SQLite constantly (browser
    history, mobile state, experiment logs), and this reads them from
    raw bytes with no per-executor sqlite install.  One real database
    per document, produced by the STDLIB sqlite3 engine via
    ``Connection.serialize`` (a third genuinely independent producer
    alongside pyarrow and DuckDB), 512-byte pages so the fixtures
    grow real multi-level b-trees.  The hand-rolled reader
    (``functions/sqlite_scan.py``) parses the 100-byte header, walks
    ``sqlite_schema`` on page 1 to find the table's root page,
    traverses interior/leaf table pages via the cell-pointer arrays,
    and decodes each record's serial types — signed 1/2/3-byte
    big-endian ints, NULLs, the 0/1 literal types, and UTF-8 text.
    Aggregates (signed sum, min, null count, text-length sum, rowid
    sum) are recomputed by the oracle from the insert formulas; long
    names follow real OVERFLOW chains (round 9), and WITHOUT ROWID /
    index b-trees are ``sqlite_without_rowid_scan``'s fixture
    (round 10)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_sqlite_scan,
        synthesize_sqlite_media,
    )

    media = synthesize_sqlite_media(_t(spark, sf_dir, "documents"))
    return extract_sqlite_scan(media).select(
        "media_id", "n_tables", "n_rows", "rowid_sum", "score_sum",
        "score_min", "name_len_sum", "n_flag_null", "flag_sum",
    )


@register(
    "sqlite_without_rowid_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 40 + (doc_id * 13) % 260 AS n
      FROM documents),
    r AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    v AS (
      SELECT media_id, n, i,
             6 + CASE WHEN (i + media_id) % 7 = 5 THEN 150
                      ELSE i % 5 END AS klen,
             (media_id * 5 + i * 23) % 2000 - 500 AS score,
             CASE WHEN (i + media_id) % 4 = 0 THEN NULL
                  ELSE i % 2 END AS flag
      FROM r)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(sum(klen) AS BIGINT) AS k_len_sum,
           CAST(sum(score) AS BIGINT) AS score_sum,
           CAST(sum(CASE WHEN flag IS NULL THEN 1 ELSE 0 END)
                AS INTEGER) AS n_flag_null,
           CAST(coalesce(sum(flag), 0) AS BIGINT) AS flag_sum,
           CAST(max(n) AS BIGINT) AS idx_entries,
           CAST(sum(klen) AS BIGINT) AS idx_k_len_sum
    FROM v
    GROUP BY media_id
    """,
    tags=("sources", "sqlite", "btree", "index", "mapInPandas"),
)
def q_sqlite_without_rowid_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQLite WITHOUT ROWID table + secondary-index read (round 10)
    — the next real-world layout after round 8's table b-trees: any
    ``TEXT PRIMARY KEY`` table is index-organized, stored in INDEX
    b-tree pages (types 2/10) where each key lives exactly ONCE, so
    INTERIOR cells carry real rows — a reader that only walks leaf
    pages silently loses them (the oracle's sums catch exactly
    that).  The scan (``sqlite_scan.py:walk_index``) does the full
    in-order traversal with the index-page local-payload threshold
    ``((U-12)*64/255) - 23`` and overflow chains for the long keys,
    reads the ``kv`` table AND its ``kv_score`` secondary index
    (entries = [score, k]), and cross-checks the two walks row-for-
    row.  Producer: stdlib sqlite3 ``Connection.serialize``."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_sqlite_wr_scan,
        synthesize_sqlite_wr_media,
    )

    media = synthesize_sqlite_wr_media(_t(spark, sf_dir, "documents"))
    return extract_sqlite_wr_scan(media).select(
        "media_id", "n_rows", "k_len_sum", "score_sum", "n_flag_null",
        "flag_sum", "idx_entries", "idx_k_len_sum",
    )


@register(
    "ico_favicon_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 4 AS ne FROM documents),
    e AS (
      SELECT media_id, ne, unnest(generate_series(0, ne - 1)) AS i
      FROM m),
    d AS (
      SELECT media_id, ne, i,
             8 + ((media_id + i * 5) % 25) * 8 AS size_,
             (media_id + i) % 2 AS is_png
      FROM e)
    SELECT media_id,
           CAST(max(ne) AS INTEGER) AS n_entries,
           CAST(max(size_) AS INTEGER) AS max_size,
           CAST(sum(is_png) AS INTEGER) AS n_png,
           CAST(sum(1 - is_png) AS INTEGER) AS n_dib
    FROM d
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "ico", "favicon", "triage"),
)
def q_ico_favicon_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO favicon-container triage, value-checked (round 8): every
    crawled site ships one — a directory of square images at
    multiple sizes whose entries are PNG streams or headerless DIBs.
    Synthesize a mixed icon per document (formula sizes, the
    0-means-256 edge hand-tested) and walk the 6-byte header +
    16-byte entries inside Arrow-batched mapInPandas
    (``functions/ico.py``): entry count, largest size, PNG-vs-DIB
    kind sniffed at each validated offset. The oracle recomputes
    every field from the entry plan."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_ico_structure,
        synthesize_ico_media,
    )

    media = synthesize_ico_media(_t(spark, sf_dir, "documents"))
    return extract_ico_structure(media).drop("payload_bytes")


@register(
    "orc_footer_scan",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(15 + (doc_id * 5) % 250 AS BIGINT) AS n_rows,
           CAST(1 AS INTEGER) AS n_stripes,
           CAST(1 + doc_id % 4 AS INTEGER) AS n_columns,
           'none' AS compression
    FROM documents
    """,
    tags=("sources", "orc", "protobuf", "mapInPandas", "triage"),
)
def q_orc_footer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC tail triage, value-checked (round 8): the parquet-footer
    pattern applied to the OTHER columnar format the engine
    round-trips (`orc_roundtrip`) — and a direct REUSE of the
    protobuf wire walker (``functions/protowire.py``), because ORC's
    planning metadata IS protobuf: u8 postscript length at the last
    byte, an uncompressed PostScript (footerLength, compression
    enum, the field-8000 "ORC" magic), then the Footer's stripes /
    types / numberOfRows, with per-stripe row sums CHECKED against
    the file total. pyarrow is the independent producer again;
    multi-stripe files (196 stripes at 200k rows) are pinned in
    ``tests/test_orc_footer.py``; COMPRESSED tails are
    ``orc_compressed_footer_scan``'s fixture. The oracle recomputes
    every field from the writer plan."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_orc_footer,
        synthesize_orc_media,
    )

    media = synthesize_orc_media(_t(spark, sf_dir, "documents"))
    return extract_orc_footer(media).drop("payload_bytes")


@register(
    "orc_compressed_footer_scan",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(20 + (doc_id * 7) % 300 AS BIGINT) AS n_rows,
           CAST(1 AS INTEGER) AS n_stripes,
           CAST(1 + doc_id % 3 AS INTEGER) AS n_columns,
           CASE doc_id % 4 WHEN 0 THEN 'zlib' WHEN 1 THEN 'snappy'
                WHEN 2 THEN 'lz4' ELSE 'zstd' END AS compression
    FROM documents
    """,
    tags=("sources", "orc", "protobuf", "codec", "mapInPandas"),
)
def q_orc_compressed_footer_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPRESSED ORC tail scan (round 10) — the round-8 boundary
    closed with decoders that already existed: real ORC writers
    default to a compressed footer, framed as ORC chunk runs
    (3-byte ``(len << 1) | is_original`` headers) whose payloads are
    RAW DEFLATE / snappy / lz4 block / zstd — all four from this
    repo's codec family (``inflate.py`` over stdlib zlib, and the
    hand-rolled ``snappy.py``, ``lz4_codec.py``, ``zstd_codec.py``),
    composed by
    ``orc_footer.py:_decompress_orc_stream``.  pyarrow writes the
    fixture rotating all four codecs by seed, so one query pins the
    chunk framing against every codec; LZO stays a loud boundary."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_orc_footer,
        synthesize_orc_compressed_media,
    )

    media = synthesize_orc_compressed_media(_t(spark, sf_dir, "documents"))
    return extract_orc_footer(media).drop("payload_bytes")


@register(
    "tiff_container_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 4 AS np_ FROM documents),
    pg AS (
      SELECT media_id, np_, unnest(generate_series(0, np_ - 1)) AS p
      FROM m),
    dims AS (
      SELECT media_id, np_, p,
             40 + (media_id * 3 + p * 7) % 500 AS w,
             30 + (media_id * 11 + p * 13) % 400 AS h
      FROM pg),
    tot AS (
      SELECT media_id, np_, sum(w * h) AS tp FROM dims
      GROUP BY media_id, np_)
    SELECT t.media_id,
           CASE WHEN t.media_id % 2 = 0 THEN 'II' ELSE 'MM' END
             AS byte_order,
           CAST(t.np_ AS INTEGER) AS n_pages,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           CAST(CASE (t.media_id) % 3 WHEN 0 THEN 1 WHEN 1 THEN 8
                ELSE 8 END AS INTEGER) AS bits_per_sample,
           CAST(CASE (t.media_id) % 3 WHEN 0 THEN 1 WHEN 1 THEN 5
                ELSE 7 END AS INTEGER) AS compression,
           CAST(t.tp AS BIGINT) AS total_pixels
    FROM tot t JOIN dims d ON d.media_id = t.media_id AND d.p = 0
    """,
    tags=("multimodal", "mapInPandas", "tiff", "multipage", "triage"),
)
def q_tiff_container_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PAGE TIFF triage, value-checked (round 8): synthesize
    one multi-page TIFF per document — chained IFDs (the next-IFD
    pointer the EXIF profile never exercises), byte order
    ALTERNATING per id, word-aligned directories, SHORT and LONG
    integer tags mixed — and walk the page chain inside
    Arrow-batched mapInPandas (``functions/tiff.py``, reusing the
    EXIF IFD reader). Scanned-document corpora are multi-page TIFFs;
    page count / dims / compression triage decides OCR routing
    without reading a single strip byte. Cycle detection bounds a
    crafted next-IFD loop (the tar negative-size lesson). The oracle
    recomputes every field from the page-plan formulas."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_tiff_structure,
        synthesize_tiff_media,
    )

    media = synthesize_tiff_media(_t(spark, sf_dir, "documents"))
    return extract_tiff_structure(media).drop("payload_bytes")


@register(
    "gif_animation_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 5 AS nf FROM documents),
    f AS (
      SELECT media_id, nf, unnest(generate_series(0, nf - 1)) AS i
      FROM m),
    d AS (
      SELECT media_id, nf,
             sum(4 + (media_id + i) % 12) AS total_delay
      FROM f GROUP BY media_id, nf)
    SELECT media_id,
           CAST(10 + media_id % 6 AS INTEGER) AS width,
           CAST(8 + media_id % 5 AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(total_delay AS BIGINT) AS total_delay_cs,
           CAST(media_id % 4 AS INTEGER) AS loop_count,
           CAST(nf + 1 AS INTEGER) AS n_extensions
    FROM d
    """,
    tags=("multimodal", "mapInPandas", "gif", "animation", "triage"),
)
def q_gif_animation_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF89a ANIMATION triage, value-checked (round 8): synthesize
    one real animation per document — NETSCAPE2.0 looping extension
    (u16 loop count), a Graphic Control Extension per frame (delay
    centiseconds, disposal method), and DIRTY-RECT frames (each
    image descriptor covers a sub-rectangle validated against the
    logical screen, as real encoders emit) with genuine LZW pixel
    data — then walk the block structure WITHOUT decoding any frame
    (``functions/gif.py:scan_gif_anim``): sub-block length prefixes
    skip pixel data, so cost is per-frame-header, not per-pixel.
    Real-world GIFs are mostly animations; frame count / duration /
    loop triage decides what is worth full LZW decode
    (`gif_image_features` is the single-frame pixel path). The
    oracle recomputes every field from the synthesis formulas."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_gif_animation,
        synthesize_gif_anim_media,
    )

    media = synthesize_gif_anim_media(_t(spark, sf_dir, "documents"))
    return extract_gif_animation(media).drop("payload_bytes")


@register(
    "webp_structure_scan",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'VP8' WHEN 1 THEN 'VP8L'
                ELSE 'VP8X' END AS fmt,
           CAST(20 + (doc_id * 3) % 2000 AS INTEGER) AS width,
           CAST(12 + (doc_id * 11) % 1500 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 2 END
                AS INTEGER) AS has_alpha,
           CAST(CASE WHEN doc_id % 3 = 2 AND doc_id % 2 = 1 THEN 1
                ELSE 0 END AS INTEGER) AS has_exif,
           CAST(0 AS INTEGER) AS has_animation,
           CAST(CASE WHEN doc_id % 3 <> 2 THEN 1
                WHEN doc_id % 2 = 1 THEN 3 ELSE 2 END
                AS INTEGER) AS n_chunks
    FROM documents
    """,
    tags=("multimodal", "mapInPandas", "webp", "riff", "triage"),
)
def q_webp_structure_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP container triage, value-checked (round 8): synthesize
    one WebP per document with the profile ROTATING per id — lossy
    VP8 (24-bit LE frame tag, keyframe start code, 14-bit dims),
    lossless VP8L (LSB-first packed 32-bit header), extended VP8X
    (flag byte, 24-bit canvas dims, EXIF metadata chunks that force
    RIFF odd-size padding) — and walk the real RIFF structure inside
    Arrow-batched mapInPandas (``functions/webp.py``; RFC 9649 +
    RFC 6386 header layouts). The second-most-served lossy web image
    format: a crawl corpus triages dimensions/alpha/animation from
    tens of header bytes before any pixel work. VP8 entropy decode
    (boolean coder + DCT) is the documented boundary, as CAVLC is
    for H.264. The oracle recomputes every field from the synthesis
    formulas; ``payload_bytes`` is producer-dependent and pinned in
    ``tests/test_webp_flac.py``."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_webp_structure,
        synthesize_webp_media,
    )

    media = synthesize_webp_media(_t(spark, sf_dir, "documents"))
    return extract_webp_structure(media).drop("payload_bytes")


@register(
    "flac_stream_info",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                  WHEN 2 THEN 96000 ELSE 22050 END AS rate,
             1000 + (doc_id * 37) % 100000 AS total
      FROM documents)
    SELECT media_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(1 + media_id % 2 AS INTEGER) AS channels,
           CAST(CASE WHEN media_id % 2 = 0 THEN 16 ELSE 24 END
                AS INTEGER) AS bits_per_sample,
           CAST(total AS BIGINT) AS total_samples,
           CAST(total * 1000 // rate AS BIGINT) AS duration_ms,
           'track-' || CAST(media_id % 50 AS VARCHAR) AS title,
           CAST(2 AS INTEGER) AS n_blocks
    FROM m
    """,
    tags=("multimodal", "mapInPandas", "flac", "audio", "metadata"),
)
def q_flac_stream_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC metadata triage, value-checked (round 8): synthesize one
    FLAC per document — STREAMINFO (the 64-bit BE field packing
    sample rate 20 bits / channels 3 / bit depth 5 / total samples
    36) plus a Vorbis-comment block (little-endian length-prefixed
    ``KEY=value`` records) — and unpack it inside Arrow-batched
    mapInPandas (``functions/flac.py``; RFC 9639 layouts). The
    lossless-audio counterpart of `mp3_stream_scan` + `mp3_id3_tags`
    in one pass: duration (integer floor ms), rate/depth/channels
    histograms, and the TITLE tag, all from the leading metadata
    blocks. Frame (LPC) decode is the documented boundary, like
    Layer III. The oracle recomputes every field — a single bit-
    offset error in the 64-bit unpack shifts rate into channels and
    breaks the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_flac_metadata,
        synthesize_flac_media,
    )

    media = synthesize_flac_media(_t(spark, sf_dir, "documents"))
    return extract_flac_metadata(media).drop("payload_bytes")


@register(
    "csv_permissive_parse",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 13 <> 0
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_price
    FROM orders
    """,
    tags=("csv", "permissive", "corrupt-record", "robustness"),
)
def q_csv_permissive_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness: orders export where every 13th line
    carries an unparseable price, read back with an explicit schema in
    PERMISSIVE mode + ``_corrupt_record`` — bad lines surface as
    quarantine rows instead of failing the job (the 100 TB reality:
    a crawl/feed ALWAYS contains garbage, and one bad line must not
    kill the pipeline). Sums run in DECIMAL so the value is exact
    regardless of partition order; the oracle recomputes the same
    split from the clean table."""
    _utc(spark)
    root = _scratch("orders_csv_dirty")
    orders = _t(spark, sf_dir, "orders")
    line = F.when(
        F.col("o_orderkey") % 13 == 0,
        F.concat(F.col("o_orderkey").cast("string"), F.lit(",not_a_number")),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("o_orderkey").cast("string"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        )
    )
    orders.select(line.alias("value")).write.text(root)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price", T.DecimalType(18, 2)),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(root)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("price").alias("n_good"),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum("price").cast("double").alias("total_price"),
    )


@register(
    "gif_image_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             6 + doc_id % 6 AS w,
             4 + doc_id % 6 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM m),
    xy AS (
      SELECT media_id, w, h, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    px AS (
      SELECT media_id, w, h,
             (media_id * 3 + x * 11 + y * 7) % 256 AS idx
      FROM xy)
    SELECT media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(idx) AS BIGINT) AS sum_r,
           CAST(sum((2 * idx + 9) % 256) AS BIGINT) AS sum_g,
           CAST(sum(255 - idx) AS BIGINT) AS sum_b
    FROM px
    GROUP BY media_id, w, h
    """,
    tags=("multimodal", "mapInPandas", "gif", "compressed", "lzw"),
)
def q_gif_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND compressed decode, different algorithm: GIF87a with
    real variable-width LZW (9→12-bit codes, dictionary growth,
    CLEAR/EOI, KwKwK — ``functions/gif.py``) vs PNG's DEFLATE. One
    palette-indexed image per document; the decoder walks the block
    structure, inflates the LZW stream, and maps indices through the
    color table in one vectorized gather. The oracle recomputes
    channel sums from the index formula + palette mapping
    (r=idx, g=(2·idx+9)%256, b=255−idx)."""
    _utc(spark)
    from ..operators.multimodal import synthesize_gif_media

    media = synthesize_gif_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(media, codec="gif")


@register(
    "image_phash",
    oracle=f"""
    WITH {_BMP_SYNTH_SQL},
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, 6)) AS tx FROM m),
    xy AS (
      SELECT media_id, w, h, tx, unnest(generate_series(0, 8)) AS ty
      FROM xs),
    cell AS (
      SELECT media_id, tx, ty,
             (((media_id * 7 + ((tx * w) // 7) * 3 + ((ty * h) // 9) * 5) % 256)
              + ((media_id * 11 + ((tx * w) // 7) * 2 + ((ty * h) // 9) * 13) % 256)
              + ((media_id * 3 + ((tx * w) // 7) * 17 + ((ty * h) // 9)) % 256))
             // 3 AS gray
      FROM xy),
    means AS (
      SELECT media_id, CAST(sum(gray) AS BIGINT) // 63 AS mn
      FROM cell GROUP BY media_id)
    SELECT c.media_id,
           CAST(sum(CASE WHEN c.gray >= m.mn
                THEN 1::BIGINT << (c.ty * 7 + c.tx) ELSE 0 END) AS BIGINT)
             AS phash
    FROM cell c JOIN means m USING (media_id)
    GROUP BY c.media_id
    """,
    tags=("multimodal", "dedup", "phash"),
)
def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per synthesized BMP — the
    content-based image dedup key (survives re-encodes that break
    byte-level hashing): decode → 7×9 floor-division resample →
    integer grayscale → threshold at the integer mean → 63-bit pack.
    The oracle recomputes every bit from the pixel formula, so one
    wrong resample index or threshold tie-break breaks the hash."""
    _utc(spark)
    from ..operators.multimodal import image_phash

    media = synthesize_bmp_media(_t(spark, sf_dir, "documents"))
    return image_phash(media)


@register(
    "png_resize_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             5 + doc_id % 6 AS w,
             4 + doc_id % 5 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, 5)) AS tx FROM m),
    xy AS (
      SELECT media_id, w, h, tx, unnest(generate_series(0, 4)) AS ty
      FROM xs),
    src AS (
      SELECT media_id, (tx * w) // 6 AS x, (ty * h) // 5 AS y FROM xy)
    SELECT media_id,
           CAST(6 AS INTEGER) AS width,
           CAST(5 AS INTEGER) AS height,
           CAST(30 AS BIGINT) AS n_pixels,
           CAST(sum((media_id * 5 + x * 7 + y * 3) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id * 9 + x * 4 + y * 11) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id * 13 + x + y * 19) % 256) AS BIGINT) AS sum_b
    FROM src
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "png", "compressed"),
)
def q_png_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed COMPRESSED pipeline: synthesize PNG -> inflate +
    un-filter -> nearest-neighbor resample to 6x5 -> re-filter +
    deflate -> decode again for features. Passing proves the resize
    output is itself a well-formed PNG (filters, CRCs, DEFLATE) that
    the decoder round-trips, with integer-exact channel sums via the
    same floor-division index mapping as the BMP twin."""
    _utc(spark)
    from ..operators.multimodal import resize_png, synthesize_png_media

    media = synthesize_png_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(resize_png(media, 6, 5), codec="png")


@register(
    "bmp_resize_features",
    oracle=f"""
    WITH {_BMP_SYNTH_SQL},
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, 4)) AS tx FROM m),
    xy AS (
      SELECT media_id, w, h, tx, unnest(generate_series(0, 3)) AS ty
      FROM xs),
    src AS (
      SELECT media_id, (tx * w) // 5 AS x, (ty * h) // 4 AS y FROM xy)
    SELECT media_id,
           CAST(5 AS INTEGER) AS width,
           CAST(4 AS INTEGER) AS height,
           CAST(20 AS BIGINT) AS n_pixels,
           CAST(sum((media_id * 7 + x * 3 + y * 5) % 256) AS BIGINT) AS sum_r,
           CAST(sum((media_id * 11 + x * 2 + y * 13) % 256) AS BIGINT) AS sum_g,
           CAST(sum((media_id * 3 + x * 17 + y) % 256) AS BIGINT) AS sum_b
    FROM src
    GROUP BY media_id
    """,
    tags=("multimodal", "mapInPandas", "bmp"),
)
def q_bmp_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed REAL pipeline: synthesize BMP -> decode -> nearest-
    neighbor resample to 5x4 -> re-encode BMP -> decode again for
    features. The oracle maps each target pixel back to its source
    via the same floor-division index (``tx*w//5``), so the resized
    channel sums are integer-exact; passing proves the resize output
    is itself a well-formed BMP the decoder round-trips."""
    _utc(spark)
    media = synthesize_bmp_media(_t(spark, sf_dir, "documents"))
    return extract_image_features(resize_bmp(media, 5, 4))


@register(
    "adpcm_audio_features",
    tags=("multimodal", "mapInPandas", "adpcm", "compressed", "rows-only"),
)
def q_adpcm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED audio (IMA ADPCM 4:1): synth WAV clips round-trip
    through the 4-bit adaptive-step codec per Arrow batch; reports
    sample counts, compressed sizes, reconstruction amplitude sums,
    and max abs error. Rows-only by necessity — the decoder is a
    sequential integer state machine no SQL can replay; semantics
    are pinned by tests/test_adpcm.py goldens."""
    _utc(spark)
    from ..operators.multimodal import adpcm_roundtrip_features

    media = synthesize_wav_media(_t(spark, sf_dir, "documents"))
    return adpcm_roundtrip_features(media)


@register(
    "wav_audio_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             8000 + (doc_id % 3) * 4000 AS rate,
             1 + doc_id % 2 AS channels,
             50 + doc_id % 20 AS n
      FROM documents),
    fr AS (
      SELECT media_id, rate, channels, n,
             unnest(generate_series(0, n - 1)) AS i FROM m),
    sm AS (
      SELECT media_id, rate, channels, n, i,
             unnest(generate_series(0, channels - 1)) AS c FROM fr),
    v AS (
      SELECT media_id, rate, channels, n,
             (media_id * 13 + i * 7 + c * 101) % 65536 - 32768 AS s
      FROM sm)
    SELECT media_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(channels AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(sum(s) AS BIGINT) AS sum_amplitude,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs_amplitude
    FROM v
    GROUP BY media_id, rate, channels, n
    """,
    tags=("multimodal", "mapInPandas", "audio"),
)
def q_wav_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, value-checked: synthesize one 16-bit PCM
    WAV per document (rate/channels/frames and every int16 sample are
    modular arithmetic over doc_id), then parse the actual RIFF
    format — fmt chunk, interleaved frames — inside Arrow-batched
    mapInPandas. Amplitude sums are integer-exact; rate and channel
    count come from the decoded fmt chunk, not the formula."""
    _utc(spark)
    media = synthesize_wav_media(_t(spark, sf_dir, "documents"))
    return extract_audio_features(media)


@register(
    "wav_resample_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             8000 + (doc_id % 3) * 4000 AS rate,
             1 + doc_id % 2 AS channels,
             50 + doc_id % 20 AS n
      FROM documents),
    fr AS (
      SELECT media_id, rate, channels, n,
             unnest(generate_series(0, n - 1)) AS i FROM m),
    kept AS (SELECT * FROM fr WHERE i % 4 = 0),
    sm AS (
      SELECT media_id, rate, channels, n, i,
             unnest(generate_series(0, channels - 1)) AS c FROM kept),
    v AS (
      SELECT media_id, rate, channels, n,
             (media_id * 13 + i * 7 + c * 101) % 65536 - 32768 AS s
      FROM sm)
    SELECT media_id,
           CAST(rate // 4 AS INTEGER) AS sample_rate,
           CAST(channels AS INTEGER) AS channels,
           CAST((n + 3) // 4 AS BIGINT) AS n_frames,
           CAST(sum(s) AS BIGINT) AS sum_amplitude,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs_amplitude
    FROM v
    GROUP BY media_id, rate, channels, n
    """,
    tags=("multimodal", "mapInPandas", "audio"),
)
def q_wav_resample_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed REAL audio pipeline: synthesize WAV -> decode ->
    4x integer decimation -> re-encode at rate/4 -> decode again for
    features. The oracle keeps frames where i % 4 = 0 (the same
    ``frames[::4]`` mapping), so decimated amplitude sums and the new
    rate/frame count are integer-exact; passing proves the resampled
    output is itself a well-formed WAV the decoder round-trips."""
    _utc(spark)
    media = synthesize_wav_media(_t(spark, sf_dir, "documents"))
    return extract_audio_features(resample_wav(media, 4))


@register(
    "avi_frame_features",
    oracle=f"""
    WITH {_BMP_SYNTH_SQL},
    ts AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS t
      FROM m),
    tt AS (SELECT * FROM ts WHERE t % 3 = 0),
    xs AS (
      SELECT media_id, w, h, t, unnest(generate_series(0, w - 1)) AS x
      FROM tt),
    xy AS (
      SELECT media_id, w, h, t, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs)
    SELECT media_id,
           CAST(t AS INTEGER) AS frame_idx,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum((media_id * 7 + x * 3 + y * 5 + t * 19) % 256)
                AS BIGINT) AS sum_r,
           CAST(sum((media_id * 11 + x * 2 + y * 13 + t * 23) % 256)
                AS BIGINT) AS sum_g,
           CAST(sum((media_id * 3 + x * 17 + y + t * 29) % 256)
                AS BIGINT) AS sum_b
    FROM xy
    GROUP BY media_id, t, w, h
    """,
    tags=("multimodal", "mapInPandas", "video"),
)
def q_avi_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video pipeline, value-checked: synthesize one
    uncompressed-DIB AVI clip per document (frame count = width
    formula = 4 + doc_id%5, pixels = BMP formula + per-frame t term),
    demux the actual RIFF container, keep every 3rd frame (1:N row
    expansion), re-encode each as BMP, and decode those for integer
    channel sums. De-stubs round 3's NotImplementedError
    ``sample_frames`` with a genuinely parseable format."""
    _utc(spark)
    media = synthesize_avi_media(_t(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=3).withColumnRenamed("frame", "payload")
    return extract_image_features(frames)


@register(
    "orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
    tags=("orc", "source", "sink", "roundtrip"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> source round-trip with a post-read filter.

    Orders are exported through the ORC sink (``sources/columnar.py``)
    and read back; the status filter applies to the READ-BACK frame,
    so the plan must show ORC-side predicate pushdown (asserted in
    ``tests/test_plans.py``) — proving the export stays an efficient
    scan target, not just a byte-accurate copy.
    """
    _utc(spark)
    from ..sources.columnar import read_orc, write_orc

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.to_date("o_orderdate").alias("orderdate"),
        "o_orderpriority",
    )
    path = _scratch("orders_orc")
    write_orc(orders, path)
    return read_orc(spark, path).filter(F.col("o_orderstatus") == "O")


#: Known event types — passed to pivot() explicitly so Spark skips the
#: extra values-discovery job (a full distinct scan at 100 TB).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "event_type_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'click'
                THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             AS click_value,
           CAST(sum(CASE WHEN event_type = 'error'
                THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             AS error_value,
           CAST(sum(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             AS purchase_value,
           CAST(sum(CASE WHEN event_type = 'signup'
                THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             AS signup_value,
           CAST(sum(CASE WHEN event_type = 'view'
                THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE)
             AS view_value
    FROM events
    GROUP BY day
    """,
    tags=("pivot", "conditional-agg"),
)
def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format daily metrics: one row per day, one value column
    per event type. ``pivot(col, values)`` with the EXPLICIT value
    list skips the values-discovery job (a full distinct scan at
    100 TB) and compiles to a two-phase aggregate — pre-agg by
    (day, type), then pivotfirst by day — both map-side combined, so
    the second shuffle moves only day x type pre-aggregated rows.
    Semantically it's the CASE-WHEN battery the oracle spells out;
    day/type combos with no events yield NULL on both engines, and
    value sums run in exact DECIMAL.

    ``n_events`` comes from a separate count(*) aggregate joined on
    day — NOT from summing the pivot cells — so a new or NULL
    event_type in regenerated testdata still counts (ADVICE r4: the
    pivot-cell sum silently desyncs from the oracle's count(*))."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    totals = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    piv = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.sum(F.col("value").cast("decimal(12,2)")))
    )
    return piv.join(totals, "day").select(
        "day",
        "n_events",
        *[F.col(t).cast("double").alias(f"{t}_value") for t in EVENT_TYPES],
    )


def _quantile_prices_oracle() -> str:
    from ..operators.sketches import sql_quantile_oracle

    return sql_quantile_oracle(
        "orders", "o_totalprice", "o_orderkey",
        percents=[1, 5, 25, 50, 75, 90, 95, 99], k=256,
    )


@register(
    "quantile_sketch_prices",
    oracle=_quantile_prices_oracle(),
    tags=("sketch", "quantile", "mergeable"),
)
def q_quantile_sketch_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value percentiles from a mergeable quantile sketch
    (``operators/sketches.py:quantile_sketch``): the 256 rows with
    the smallest md5(o_orderkey) form a deterministic uniform sample
    — selection is per-row and order-independent, so per-shard
    sketches merge by union + re-take (tested associative) — and
    estimates come from integer rank selection ((p*(n-1)) div 100
    over (val, hv) order). The DuckDB oracle runs the IDENTICAL
    sample + rank arithmetic, so every estimated value hash-matches —
    the portability contract engine-private percentile_approx /
    KLL registers can't offer. At 100 TB: TakeOrdered top-k per
    partition, a 256-row merge, zero full sorts."""
    _utc(spark)
    from ..operators.sketches import quantile_estimate, quantile_sketch

    sk = quantile_sketch(
        _t(spark, sf_dir, "orders"), "o_totalprice", "o_orderkey", k=256
    )
    return quantile_estimate(sk, [1, 5, 25, 50, 75, 90, 95, 99])


@register(
    "quantile_sketch_by_status",
    oracle="""
    WITH s AS (
      SELECT o_orderstatus, hv, val FROM (
        SELECT o_orderstatus,
               CAST('0x' || substring(md5('qs:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                    AS BIGINT) AS hv,
               o_totalprice AS val,
               row_number() OVER (PARTITION BY o_orderstatus
                 ORDER BY CAST('0x' || substring(md5('qs:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                               AS BIGINT)) AS rn
        FROM orders)
      WHERE rn <= 128),
    r AS (
      SELECT o_orderstatus, val, hv,
             row_number() OVER (PARTITION BY o_orderstatus
               ORDER BY val, hv) - 1 AS rk,
             count(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM s)
    SELECT r.o_orderstatus, p.p, r.val AS est_val
    FROM r JOIN (VALUES (25), (50), (75), (95)) AS p(p)
      ON r.rk = (p.p * (r.n - 1)) // 100
    """,
    tags=("sketch", "quantile", "group-wise"),
)
def q_quantile_sketch_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension percentiles from GROUP-WISE quantile sketches
    (the quantile analogue of group-wise HLL): k smallest-hash rows
    per order status, integer rank selection per group — |groups|·k
    rows of state however large the fact table."""
    _utc(spark)
    from ..operators.sketches import quantile_estimate_by, quantile_sketch_by

    sk = quantile_sketch_by(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus"], "o_totalprice", "o_orderkey", k=128,
    )
    return quantile_estimate_by(sk, ["o_orderstatus"], [25, 50, 75, 95])


@register(
    "event_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s1) AS n_signup,
           (SELECT count(*) FROM s2) AS n_then_click,
           (SELECT count(*) FROM s3) AS n_then_purchase
    """,
    tags=("analytics", "funnel", "sequence"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → later click → later
    purchase): each step is a min-timestamp aggregate gated on the
    PREVIOUS step's time, so ordering is enforced per user — the
    product-analytics sequence query, as three set-based stages
    instead of a per-user loop."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_then_click")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_then_purchase")))
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_date,
             datediff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_date, CAST(day_offset AS INTEGER) AS day_offset,
           count(*) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_date, day_offset
    """,
    tags=("analytics", "retention", "cohort"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity date,
    distinct-user counts per (cohort, day offset ≤ 7) — the classic
    growth-analytics triangle, one first-touch aggregate + one
    distinct activity join."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.datediff(F.to_date("ts"), F.col("cohort_date")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _hll_users_oracle() -> str:
    from ..operators.sketches import sql_hll_oracle

    est = sql_hll_oracle("events", "user_id", p=8).strip()
    return f"""
    WITH est AS ({est}),
    ex AS (SELECT count(DISTINCT user_id) AS exact_distinct FROM events)
    SELECT buckets_used, hll_estimate, exact_distinct FROM est, ex
    """


@register(
    "hll_distinct_users",
    oracle=_hll_users_oracle(),
    tags=("sketch", "hll", "approx-distinct"),
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-user estimate, hash-checked
    against a DuckDB oracle computing the IDENTICAL sketch — every
    step integer-exact (md5 buckets, string-length ranks, scaled
    register sums), one final IEEE division (``operators/sketches``).
    The exact distinct count rides along for an accuracy read. At
    100 TB the sketch side replaces the exact count: ≤256 two-long
    rows cross the wire instead of a full distinct shuffle, and daily
    sketches merge with a max()."""
    _utc(spark)
    from ..operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    est = hll_distinct(ev, "user_id", p=8)
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact))


@register(
    "salted_star_join",
    oracle="""
    SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_nationkey
    """,
    tags=("skew", "salted-join"),
)
def q_salted_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events→customer join routed through :func:`salted_join`
    (``operators/skew.py``): the fact side salts on a whole-row hash,
    the dim side replicates n_salts×, so a pathologically hot user_id
    spreads over 16 reducers instead of one — the explicit fallback
    for skew AQE can't split (single-key hot spots). The oracle is
    the PLAIN join: salting must be invisible in the result."""
    _utc(spark)
    from ..operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = salted_join(ev, cust, on=["user_id"], n_salts=16)
    return joined.groupBy(
        F.col("c_nationkey").cast("int").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_value"),
    )


def _cms_events_oracle() -> str:
    from ..operators.sketches import sql_cms_oracle

    est = sql_cms_oracle("events", "event_type", depth=4, width=64).strip()
    return f"""
    WITH est AS ({est}),
    ex AS (SELECT event_type, count(*) AS exact_count
           FROM events GROUP BY event_type)
    SELECT ex.event_type, est.est_count, ex.exact_count
    FROM est JOIN ex ON est.event_type = ex.event_type
    """


@register(
    "cms_heavy_hitters",
    oracle=_cms_events_oracle(),
    tags=("sketch", "count-min", "heavy-hitters"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for every event type, beside the
    exact counts. Like the HLL row, the sketch is portable integer
    arithmetic (md5 positions, count counters) so DuckDB reproduces
    the ESTIMATES exactly (``operators/sketches.py``). At 100 TB the
    depth×width counter frame (≤256 rows here) replaces a full
    groupBy for approximate membership/frequency questions, merges
    across shards by summing counters, and broadcasts into probes."""
    _utc(spark)
    from ..operators.sketches import cms_estimate, cms_sketch

    ev = _t(spark, sf_dir, "events")
    sketch = cms_sketch(ev, "event_type", depth=4, width=64)
    items = ev.select("event_type").distinct()
    est = cms_estimate(sketch, items, "event_type", depth=4, width=64)
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "event_type").select(
        "event_type", "est_count", "exact_count"
    )


def _cms_join_size_oracle() -> str:
    from ..operators.sketches import sql_cms_join_size_oracle

    return sql_cms_join_size_oracle(
        "orders", "o_orderkey", "lineitem", "l_orderkey",
        depth=4, width=65536,
    )


@register(
    "cms_join_size",
    oracle=_cms_join_size_oracle(),
    tags=("sketch", "count-min", "join-cardinality"),
)
def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT running the join: the
    count-min inner-product estimator over orders ⋈ lineitem on the
    order key (``operators/sketches.py:cms_join_size``), beside the
    exact size. Each side reduces to ≤ depth×width integer counters
    (mergeable across shards); the estimate is a tiny (row_idx, pos)
    equi-join + depth-row min — the "how big will this join be?"
    optimizer question answered from persisted sketches at 100 TB.
    Integer-exact, so the oracle reproduces the ESTIMATE bit-for-bit."""
    _utc(spark)
    from ..operators.sketches import cms_join_size, cms_sketch

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ska = cms_sketch(orders, "o_orderkey", depth=4, width=65536)
    skb = cms_sketch(li, "l_orderkey", depth=4, width=65536)
    est = cms_join_size(ska, skb, depth=4)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.crossJoin(exact)


@register(
    "bucketed_orders_join",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("bucketing", "co-located-join", "source"),
)
def q_bucketed_orders_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders↔lineitem join through BUCKETED tables
    (``sources/bucketed.py``): both sides land hash-bucketed on the
    order key via ``bucketBy + saveAsTable``, so the join reads
    co-located buckets — no Exchange on either side (the property
    ``tests/test_bucketed.py`` pins). This is the pay-the-shuffle-
    once layout for the fact joins a warehouse repeats daily; the
    oracle is the plain join over the raw parquet."""
    _utc(spark)
    from ..sources.bucketed import write_bucketed

    n = 8
    root = _scratch("bucketed")
    write_bucketed(
        _t(spark, sf_dir, "orders"),
        "bq_orders",
        ["o_orderkey"],
        n_buckets=n,
        path=f"{root}/bq_orders",
    )
    write_bucketed(
        _t(spark, sf_dir, "lineitem"),
        "bq_lineitem",
        ["l_orderkey"],
        n_buckets=n,
        path=f"{root}/bq_lineitem",
    )
    orders = spark.table("bq_orders")
    li = spark.table("bq_lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           CASE WHEN o_orderstatus = 'F' THEN 'UNKNOWN'
                ELSE o_orderpriority END AS priority,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("schema-evolution", "mergeSchema", "source"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations: an old extract
    (status 'F', written BEFORE the priority column existed) and a
    new extract (all columns) land in one directory;
    ``mergeSchema=true`` unions the schemas, old files surface the
    missing column as NULL, and the query normalizes it with a
    sentinel — the add-a-column migration every long-lived warehouse
    feed goes through, with zero rewrite of historical files. The
    oracle recreates the same semantics from the unsplit table."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    root = _scratch("orders_evo")
    orders.filter(F.col("o_orderstatus") == "F").drop(
        "o_orderpriority"
    ).write.parquet(root)
    orders.filter(F.col("o_orderstatus") != "F").write.mode(
        "append"
    ).parquet(root)
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy(
        "o_orderstatus",
        F.coalesce(F.col("o_orderpriority"), F.lit("UNKNOWN")).alias(
            "priority"
        ),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "dpp_partitioned_join",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'
    GROUP BY 1
    """,
    tags=("dpp", "partition-pruning", "scale"),
)
def q_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: events land date-PARTITIONED, the
    dim side is the date generator filtered to one week, and the join
    on the partition column makes Spark prune the fact scan to the
    dim's days at RUNTIME (the executed plan shows
    ``dynamicpruningexpression`` + ``SubqueryAdaptiveBroadcast`` in
    PartitionFilters — pinned in tests/test_plans.py). At 100 TB this
    is the difference between scanning a week and scanning years:
    partition-major layout + DPP means fact I/O scales with the dim
    selection, not table size. The oracle is the plain filtered
    aggregate over the raw events."""
    _utc(spark)
    from ..functions.dates import date_dim

    root = _scratch("events_by_day")
    ev = _t(spark, sf_dir, "events")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(root)
    fact = spark.read.parquet(root)
    dim = date_dim(spark).filter(
        (F.col("FULL_DATE") >= "2024-01-10") & (F.col("FULL_DATE") <= "2024-01-16")
    ).select(F.col("FULL_DATE").alias("day"))
    return fact.join(dim, "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("double")
        .alias("total_value"),
    )


@register(
    "merge_cdc_customers",
    oracle="""
    WITH agg AS (
      SELECT o_custkey AS c_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS delta,
             count(*) AS n_open
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
    ),
    src AS (
      SELECT a.c_custkey, c.c_name, c.c_nationkey,
             CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) + a.delta
                  AS DECIMAL(18,2)) AS bal,
             c.c_mktsegment,
             a.n_open > 9 AS is_delete
      FROM agg a JOIN customer c ON a.c_custkey = c.c_custkey
      UNION ALL
      SELECT a.c_custkey + 100000,
             'NEW_' || CAST(a.c_custkey + 100000 AS VARCHAR),
             CAST(a.c_custkey % 25 AS INTEGER),
             a.delta, 'BUILDING', FALSE
      FROM agg a WHERE a.c_custkey % 100 = 0
    )
    SELECT c.c_custkey, c.c_name,
           CAST(c.c_nationkey AS INTEGER) AS nationkey,
           CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal,
           c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)
    UNION ALL
    SELECT s.c_custkey, s.c_name, CAST(s.c_nationkey AS INTEGER),
           CAST(s.bal AS DOUBLE), s.c_mktsegment
    FROM src s JOIN customer c ON s.c_custkey = c.c_custkey
    WHERE NOT s.is_delete
    UNION ALL
    SELECT s.c_custkey, s.c_name, CAST(s.c_nationkey AS INTEGER),
           CAST(s.bal AS DOUBLE), s.c_mktsegment
    FROM src s
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = s.c_custkey)
    """,
    tags=("merge", "cdc", "upsert-delete"),
)
def q_merge_cdc_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI MERGE in one distributed plan (``operators/merge.py``):
    a CDC-shaped source (new balances for customers with open orders,
    a delete marker for heavy accounts, brand-new rows for a key
    slice) merges into the customer dim — matched-update,
    matched-delete, not-matched-insert, untouched-keep, all from ONE
    full-outer shuffle. The oracle spells the same four-way outcome
    as explicit unions. Replaces the reference's row-at-a-time
    ``ON DUPLICATE KEY UPDATE`` loop (SURVEY §2.1 S8) with delete
    support the reference lacks entirely."""
    _utc(spark)
    from ..operators.merge import merge_into

    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.col("c_acctbal").cast("decimal(18,2)")
    )
    agg = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("delta"),
            F.count(F.lit(1)).alias("n_open"),
        )
    )
    upd = agg.join(cust.select("c_custkey", "c_name", "c_nationkey",
                               "c_acctbal", "c_mktsegment"), "c_custkey").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.col("delta")).cast("decimal(18,2)").alias(
            "c_acctbal"
        ),
        "c_mktsegment",
        (F.col("n_open") > 9).alias("is_delete"),
    )
    ins = agg.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(
            F.lit("NEW_"), (F.col("c_custkey") + 100000).cast("string")
        ).alias("c_name"),
        (F.col("c_custkey") % 25).cast("int").alias("c_nationkey"),
        F.col("delta").alias("c_acctbal"),
        F.lit("BUILDING").alias("c_mktsegment"),
        F.lit(False).alias("is_delete"),
    )
    merged = merge_into(
        cust,
        upd.unionByName(ins),
        on=["c_custkey"],
        update_cols=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        delete_col="is_delete",
    )
    return merged.select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        "c_mktsegment",
    )


_GROUPING_SETS_SQL = """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
           CAST(grouping(o_orderpriority) AS INTEGER) AS g_priority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register(
    "grouping_sets_sales",
    oracle=_GROUPING_SETS_SQL,
    tags=("grouping-sets", "cube-family"),
)
def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the generalization CUBE/ROLLUP
    specialize — `sales_cube`/`rollup_cascade` cover those): three
    chosen groupings in ONE scan+shuffle instead of three queries,
    with ``grouping()`` flags disambiguating a real NULL key from a
    rolled-up 'ALL'. Runs through the engine's SQL surface over a
    registered view; DuckDB runs the identical text."""
    _utc(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


@register(
    "unpivot_line_metrics",
    oracle="""
    SELECT metric,
           CAST(sum(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total,
           count(*) AS n
    FROM (SELECT l_quantity, l_discount, l_tax FROM lineitem)
    UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax))
    GROUP BY metric
    """,
    tags=("unpivot", "melt", "reshape"),
)
def q_unpivot_line_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (the inverse of `event_type_pivot`):
    ``unpivot`` emits one (metric, value) row per measure column —
    a cheap in-task row expansion (no shuffle, no join; the 1:N
    explode happens inside the scan stage), then the usual partial
    aggregation. The melt every feature-store export needs."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            [],
            ["l_quantity", "l_discount", "l_tax"],
            "metric",
            "val",
        )
        .groupBy("metric")
        .agg(
            F.sum(F.col("val").cast("decimal(18,4)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "dq_expectations",
    oracle="""
    WITH base AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN NOT coalesce(l_quantity > 0, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty_positive,
             CAST(sum(CASE WHEN NOT coalesce(l_discount BETWEEN 0 AND 0.1,
                 FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_discount_band,
             CAST(sum(CASE WHEN NOT coalesce(l_shipdate IS NOT NULL, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_shipdate_set,
             CAST(sum(CASE WHEN NOT coalesce(l_extendedprice >= 900, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS v_price_floor
      FROM lineitem
    )
    SELECT 'qty_positive' AS rule, n AS n_rows,
           v_qty_positive AS n_violations, v_qty_positive = 0 AS pass
    FROM base
    UNION ALL
    SELECT 'discount_band', n, v_discount_band, v_discount_band = 0 FROM base
    UNION ALL
    SELECT 'shipdate_set', n, v_shipdate_set, v_shipdate_set = 0 FROM base
    UNION ALL
    SELECT 'price_floor', n, v_price_floor, v_price_floor = 0 FROM base
    """,
    tags=("data-quality", "expectations", "A4"),
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ gate (``operators/quality_gate.py``): four
    expectations over lineitem evaluated in ONE scan (conditional
    aggregates, zero shuffles before the 1-row agg), reported as
    (rule, n_rows, n_violations, pass). Generalizes the reference's
    COUNT(*) guards (SURVEY §2.5 A4) to a rule battery; NULL rule
    results count as violations (the three-valued-logic trap).
    price_floor is deliberately violable so the report shows a
    failing rule."""
    _utc(spark)
    from ..operators.quality_gate import check_expectations

    li = _t(spark, sf_dir, "lineitem")
    return check_expectations(
        li,
        {
            "qty_positive": F.col("l_quantity") > 0,
            "discount_band": F.col("l_discount").between(0.0, 0.1),
            "shipdate_set": F.col("l_shipdate").isNotNull(),
            "price_floor": F.col("l_extendedprice") >= 900,
        },
    )


@register(
    "incremental_rollup",
    oracle="""
    SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
           CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS mo,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2
    """,
    tags=("incremental", "materialized-view", "partial-agg-merge"),
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly rollup
    is built as BASE (orders before 2001) + DELTA (2001 orders)
    partial aggregates merged by re-aggregation — sums add, counts
    add — never rescanning base history. The oracle computes the same
    rollup from scratch; matching proves the incremental path is
    lossless. At 100 TB this is the difference between touching one
    day's partitions and recomputing years (pair with
    upsert_partitions to rewrite only the merged months)."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.year(F.to_date("o_orderdate")).cast("int").alias("yr"),
            F.month(F.to_date("o_orderdate")).cast("int").alias("mo"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("__t"),
        )

    base = rollup(orders.filter(F.to_date("o_orderdate") < "2001-01-01"))
    delta = rollup(orders.filter(F.to_date("o_orderdate") >= "2001-01-01"))
    return (
        base.unionByName(delta)
        .groupBy("yr", "mo")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("__t").cast("double").alias("total"),
        )
    )


def _zorder_oracle() -> str:
    from ..sources.layout import sql_zorder_key

    zk = sql_zorder_key("(o_custkey % 65536)", "dayofyear(o_orderdate)", 16)
    return f"""
    WITH keyed AS (
      SELECT {zk} AS zkey FROM orders
    )
    SELECT CAST(zkey >> 14 AS BIGINT) AS tile,
           count(*) AS n_orders,
           min(zkey) AS min_key,
           max(zkey) AS max_key
    FROM keyed GROUP BY tile
    """


@register(
    "zorder_tiles",
    oracle=_zorder_oracle(),
    tags=("zorder", "layout", "clustering"),
)
def q_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key two-dimensional clustering
    (``sources/layout.py:zorder_key``): orders keyed by interleaving
    (custkey, day-of-year) bits, rolled up per 2^14-key tile. A tile
    is a square in (customer, season) space, so files range-laid on
    this key serve min-max pruning for predicates on EITHER column —
    the no-table-format Z-ORDER. Pure shifts/masks in codegen; the
    oracle evaluates the literally identical bit expression."""
    _utc(spark)
    from ..sources.layout import zorder_key

    orders = _t(spark, sf_dir, "orders")
    zk = zorder_key(
        F.col("o_custkey") % 65536,
        F.dayofyear(F.to_date("o_orderdate")),
        16,
    )
    return (
        orders.select(zk.alias("zkey"))
        .groupBy(F.shiftright(F.col("zkey"), 14).alias("tile"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("zkey").alias("min_key"),
            F.max("zkey").alias("max_key"),
        )
    )


def _hll_by_type_oracle() -> str:
    from ..operators.sketches import sql_hll_by_oracle

    est = sql_hll_by_oracle("events", "event_type", "user_id", p=8).strip()
    return f"""
    WITH est AS ({est}),
    ex AS (SELECT event_type AS grp, count(DISTINCT user_id) AS exact_distinct
           FROM events GROUP BY event_type)
    SELECT ex.grp AS event_type, est.buckets_used, est.hll_estimate,
           ex.exact_distinct
    FROM est JOIN ex ON est.grp = ex.grp
    """


@register(
    "hll_uniques_by_type",
    oracle=_hll_by_type_oracle(),
    tags=("sketch", "hll", "group-wise"),
)
def q_hll_uniques_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension unique users via GROUP-WISE HLL
    (``operators/sketches.py:hll_sketch_by``): one shuffle keyed on
    (event_type, bucket), ≤2^p register rows per group — the shape
    that lets daily per-dimension uniques roll up into month/quarter
    uniques by register max, which COUNT(DISTINCT) can never do.
    Estimates hash-match DuckDB computing the identical registers;
    exact counts ride along."""
    _utc(spark)
    from ..operators.sketches import hll_estimate_by, hll_sketch_by

    ev = _t(spark, sf_dir, "events")
    est = hll_estimate_by(
        hll_sketch_by(ev, ["event_type"], "user_id", p=8), ["event_type"], p=8
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "buckets_used", "hll_estimate", "exact_distinct"
    )


@register(
    "json_roundtrip",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
    tags=("json", "source", "sink", "roundtrip"),
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink -> source round-trip (the third format next to
    `csv_roundtrip` and `orc_roundtrip`): events written as JSONL,
    read back with an EXPLICIT schema (never inferSchema — an extra
    full scan at 100 TB, and type guesses drift between files), with
    timestamps surviving as ISO-8601 text. The filter applies to the
    read-back frame; values must match the parquet-sourced oracle
    exactly."""
    _utc(spark)
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.col("value").cast("double").alias("value"), "ts",
    )
    path = _scratch("events_json")
    # default JSON timestampFormat truncates to milliseconds; pin a
    # microsecond format on BOTH sides so ts round-trips losslessly
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.option("timestampFormat", ts_fmt).json(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    back = spark.read.schema(schema).option("timestampFormat", ts_fmt).json(path)
    return back.filter(F.col("event_type").isin("purchase", "signup"))


@register(
    "customer_rank_battery",
    oracle="""
    SELECT c_custkey,
           CAST(c_nationkey AS INTEGER) AS nationkey,
           CAST(ntile(4) OVER w AS INTEGER) AS wealth_quartile,
           CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
           CAST(cume_dist() OVER w AS DOUBLE) AS cume,
           CAST(row_number() OVER w AS BIGINT) AS rn
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window", "ranking", "analytics"),
)
def q_customer_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function battery per nation partition: ntile quartiles,
    percent_rank, cume_dist, row_number in ONE window (one shuffle on
    the partition key, one sort). The sort key is (acctbal, custkey) —
    unique — because ntile/row_number are order-dependent under ties
    and would desync from the oracle otherwise. percent_rank/cume
    divide exact integer rank/count pairs, so the doubles match
    bit-for-bit."""
    _utc(spark)
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.ntile(4).over(w).cast("int").alias("wealth_quartile"),
        F.percent_rank().over(w).cast("double").alias("pct_rank"),
        F.cume_dist().over(w).cast("double").alias("cume"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


@register(
    "ewma_user_activity",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS v
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT user_id, day, v,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM daily),
    rec AS (
      SELECT user_id, day, v, rn, v * 1000000 AS e
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.day, s.v, s.rn, (s.v * 1000000 + 3 * r.e) // 4
      FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
    SELECT user_id, day,
           CAST(v AS BIGINT) AS n_events,
           CAST(e AS BIGINT) AS ewma_micro
    FROM rec
    """,
    tags=("time-series", "ewma", "integer-exact", "fold"),
)
def q_ewma_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of per-user daily
    activity with alpha = 1/4 — the trend-smoothing primitive
    (anomaly baselines, engagement scores) — in INTEGER micro-units:
    s_1 = 1e6·v_1, s_t = (1e6·v_t + 3·s_{t-1}) >> 2. Float EWMA's
    recursive multiply accumulates libm-order drift; the integer
    recurrence is bit-identical on any engine, the same determinism
    trick as the integer PageRank.

    A recurrence can't be a window function (each value depends on
    the PREVIOUS OUTPUT, not previous inputs), so the engine folds
    each user's date-sorted series with one JVM-side ``aggregate``
    over a collected array and explodes it back — per-user state is
    bounded by the date range (days, not events: the daily
    pre-aggregation shrinks first), which is the same bounded-fold
    contract as ``interpolate_series``. The oracle replays the exact
    recurrence as a recursive CTE stepping rn -> rn+1."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").cast("long").alias("v"))
    )
    arr = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("a")
    )
    folded = arr.select(
        "user_id",
        F.aggregate(
            "a",
            F.expr(
                "CAST(array() AS array<struct<day:date,v:bigint,e:bigint>>)"
            ),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["v"].alias("v"),
                        F.when(
                            F.size(acc) == 0, x["v"] * F.lit(1_000_000)
                        )
                        .otherwise(
                            F.shiftright(
                                x["v"] * F.lit(1_000_000)
                                + F.lit(3) * F.element_at(acc, -1)["e"],
                                2,
                            )
                        )
                        .alias("e"),
                    )
                ),
            ),
        ).alias("s"),
    )
    return folded.select(
        "user_id", F.explode("s").alias("r")
    ).select(
        "user_id",
        F.col("r.day").alias("day"),
        F.col("r.v").cast("bigint").alias("n_events"),
        F.col("r.e").cast("bigint").alias("ewma_micro"),
    )


@register(
    "forward_fill_series",
    oracle="""
    WITH span AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY user_id
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    obs AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             max(CAST(value AS DECIMAL(12,2))) AS v
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, day
    )
    SELECT s.user_id, s.day,
           CAST(last_value(o.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS last_purchase_value
    FROM spine s LEFT JOIN obs o
      ON s.user_id = o.user_id AND s.day = o.day
    """,
    tags=("time-series", "gap-fill", "window"),
)
def q_forward_fill_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series: a per-user daily spine left-joined to
    per-day purchase observations, forward-filled with
    ``last(..., ignorenulls=True)`` — the LOCF (last observation
    carried forward) every feature-store daily snapshot needs. One
    window sort per user partition; days with no purchase yet are
    NULL on both engines. Observations aggregate in exact DECIMAL
    before the fill.

    The spine is each user's own ``sequence(min(day), max(day))``
    exploded — NOT ``users × global-days`` (the round-5 shape): a
    dense cross-join spine is |users|·|days| rows and at 100 TB
    (billions of users × years) dwarfs the fact table, while the
    per-user span is proportional to each user's activity window and
    is the same bounded shape ``interpolate_series`` uses. No
    CartesianProduct appears in the plan."""
    _utc(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    spine = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("d1"),
        )
        .select(
            "user_id",
            F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        )
    )
    obs = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.max(F.col("value").cast("decimal(12,2)")).alias("v"))
    )
    return (
        spine.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("v", ignorenulls=True)
            .over(
                Window.partitionBy("user_id")
                .orderBy("day")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("double")
            .alias("last_purchase_value"),
        )
    )


def _hll_setops_oracle() -> str:
    from ..operators.sketches import sql_hll_setops_oracle

    return sql_hll_setops_oracle(
        "events", "user_id",
        "event_type = 'click'", "event_type = 'purchase'", p=8,
    )


@register(
    "hll_set_ops",
    oracle=_hll_setops_oracle(),
    tags=("sketch", "hll", "set-algebra", "overlap"),
)
def q_hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-overlap estimation by HLL set algebra: clickers vs
    purchasers, union by register max-merge, intersection by
    inclusion-exclusion (``operators/sketches.py:hll_set_ops``).

    The audience-overlap question (`how many users did BOTH X and
    Y?`) is exactly the query that stops scaling as an exact
    ``COUNT(DISTINCT)`` — it needs a distinct shuffle of every key in
    both segments, per segment PAIR. With sketches each segment is
    ≤2^p two-long rows computed once (map-side combinable max agg),
    any pair's union merges register-wise, and the overlap falls out
    arithmetically. Every output value is deterministic (integer
    registers, one IEEE division each) so the DuckDB oracle
    hash-matches all four estimates."""
    _utc(spark)
    from ..operators.sketches import hll_set_ops

    ev = _t(spark, sf_dir, "events")
    return hll_set_ops(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
        p=8,
    )


@register(
    "bloom_join_prefilter",
    oracle="""
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY month
    """,
    tags=("bloom", "join-prefilter", "semi-join-reduction"),
)
def q_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly urgent-order revenue through an explicit Bloom-filter
    join prefilter: build a ≤8192-bit filter over the urgent
    orderkeys, broadcast it as ONE array row, drop non-matching
    lineitem rows map-side (5 ``array_contains`` probes), THEN join.

    The oracle is the plain join — the point of the query: Bloom
    prefiltering is result-invariant (no false negatives; false
    positives die in the equi-join), so the gate proves the
    optimization preserves semantics exactly. At 100 TB this is the
    difference between shuffling all of lineitem and shuffling ~the
    matching fraction; ``m_bits`` scales with the build-side count
    (bits ≈ 10·|build| for ~1% FP). Spark's AQE can inject the same
    shape automatically; the explicit operator makes it available to
    sinks/incremental jobs where the optimizer can't see the join.
    """
    _utc(spark)
    from ..operators.sketches import bloom_build, bloom_prefilter

    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderdate")
    )
    bloom = bloom_build(
        urgent.select("o_orderkey"), "o_orderkey", k=5, m_bits=8192,
        native=True,
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    li_pre = bloom_prefilter(
        bloom, li, "l_orderkey", k=5, m_bits=8192, native=True
    )
    return (
        li_pre.join(urgent, li_pre.l_orderkey == urgent.o_orderkey)
        .groupBy(
            F.trunc(F.to_date("o_orderdate"), "month").alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "shot_boundaries",
    oracle=f"""
    WITH {_BMP_SYNTH_SQL},
    ts AS (
      SELECT media_id, w, h, unnest(generate_series(0, w - 1)) AS t
      FROM m),
    xs AS (
      SELECT media_id, w, h, t, unnest(generate_series(0, w - 1)) AS x
      FROM ts),
    xy AS (
      SELECT media_id, w, h, t, x, unnest(generate_series(0, h - 1)) AS y
      FROM xs),
    fr AS (
      SELECT media_id, t,
             w * h AS n_pixels,
             sum((media_id * 7 + x * 3 + y * 5 + t * 19) % 256
               + (media_id * 11 + x * 2 + y * 13 + t * 23) % 256
               + (media_id * 3 + x * 17 + y + t * 29) % 256) AS intensity
      FROM xy
      GROUP BY media_id, t, w, h),
    d AS (
      SELECT media_id, t AS frame_idx,
             CAST(intensity AS BIGINT) AS intensity,
             CAST(coalesce(intensity - lag(intensity) OVER (
               PARTITION BY media_id ORDER BY t), 0) AS BIGINT) AS delta,
             n_pixels
      FROM fr)
    SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, intensity,
           delta,
           abs(delta) > n_pixels * 30 AS is_cut
    FROM d
    """,
    tags=("multimodal", "video", "shot-boundary", "window"),
)
def q_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over REAL decoded video: demux every
    frame of the synthetic DIB-AVI clips, decode to channel sums, and
    flag frames whose total-intensity jump from the previous frame
    exceeds 30·n_pixels — the classic frame-differencing cut
    detector.

    Composes the container demux (1:N ``mapInPandas`` expansion) with
    a lag window per clip — the temporal-analysis pattern (scene
    segmentation, keyframe selection) that pure per-frame features
    can't express. Frame stats are exact integers, so the lag deltas
    and the boundary verdicts hash-match the arithmetic oracle; the
    window shuffles one row per FRAME FEATURE (five longs), never
    pixel data. The first frame of each clip has delta 0 (no
    predecessor) and is never a cut on either engine."""
    _utc(spark)
    from pyspark.sql import Window

    media = synthesize_avi_media(_t(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=1).withColumnRenamed(
        "frame", "payload"
    )
    feats = extract_image_features(frames).select(
        "media_id",
        "frame_idx",
        (F.col("sum_r") + F.col("sum_g") + F.col("sum_b")).alias("intensity"),
        "n_pixels",
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    d = feats.select(
        "media_id",
        "frame_idx",
        F.col("intensity").cast("bigint").alias("intensity"),
        F.coalesce(
            F.col("intensity") - F.lag("intensity").over(w), F.lit(0)
        )
        .cast("bigint")
        .alias("delta"),
        "n_pixels",
    )
    return d.select(
        "media_id",
        "frame_idx",
        "intensity",
        "delta",
        (F.abs("delta") > F.col("n_pixels") * 30).alias("is_cut"),
    )


@register(
    "users_except",
    oracle="""
    SELECT DISTINCT user_id FROM events
    WHERE event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-03'
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND CAST(ts AS DATE) = DATE '2024-01-03'
    """,
    tags=("set-ops", "except", "anti-segment"),
)
def q_users_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: users who clicked on Jan 3 but did not purchase that
    day — the negative-segment query (completes the set-op surface
    next to ``users_intersect`` and ``union_dedup``). Day-scoped so
    the difference is non-trivial on the synthetic data (over all
    time every user hits every event type). Spark plans EXCEPT as a
    left-anti hash join on the distinct sets — no sort-based set
    difference needed."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    jan3 = ev.filter(F.to_date("ts") == F.lit("2024-01-03"))
    clickers = jan3.filter(F.col("event_type") == "click").select("user_id")
    buyers = jan3.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.subtract(buyers)


@register(
    "incremental_join_view",
    oracle="""
    SELECT CAST(c_nationkey AS INTEGER) AS nationkey,
           CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    """,
    tags=("incremental", "materialized-view", "delta-join"),
)
def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view with deltas on BOTH
    sides — the delta-join algebra ``Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔC ∪
    ΔA⋈ΔB`` that generalizes ``incremental_rollup`` (which only
    handles one appending fact) to views over two evolving tables.

    Orders split into base (pre-2001) + delta (2001+); customers
    split into base + a simulated late-arriving cohort (custkey % 10
    = 0). The view — per-(nation, year) order counts and revenue — is
    built as base-view + three delta joins, merged by partial-agg
    re-aggregation. The oracle recomputes the join from scratch;
    matching proves the algebra is lossless. At 100 TB the three
    delta joins each touch |Δ|·matching-rows, never |base|×|base| —
    the CDC-driven refresh a warehouse needs once dimensions also
    churn."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    o_base = orders.filter(F.to_date("o_orderdate") < "2001-01-01")
    o_delta = orders.filter(F.to_date("o_orderdate") >= "2001-01-01")
    c_base = cust.filter(F.col("c_custkey") % 10 != 0)
    c_delta = cust.filter(F.col("c_custkey") % 10 == 0)

    def view(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(
                F.col("c_nationkey").cast("int").alias("nationkey"),
                F.year(F.to_date("o_orderdate")).cast("int").alias("yr"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "__t"
                ),
            )
        )

    parts = (
        view(o_base, c_base)
        .unionByName(view(o_delta, c_base))
        .unionByName(view(o_base, c_delta))
        .unionByName(view(o_delta, c_delta))
    )
    return parts.groupBy("nationkey", "yr").agg(
        F.sum("n_orders").alias("n_orders"),
        F.sum("__t").cast("double").alias("total"),
    )


_WAV_SYNTH_CTE = """
    m AS (
      SELECT doc_id AS media_id,
             1 + doc_id % 2 AS channels,
             50 + doc_id % 20 AS n
      FROM documents),
    fr AS (
      SELECT media_id, channels, n,
             unnest(generate_series(0, n - 1)) AS i FROM m),
    sm AS (
      SELECT media_id, channels, n, i,
             unnest(generate_series(0, channels - 1)) AS c FROM fr),
    en AS (
      SELECT media_id, i,
             sum(abs((media_id * 13 + i * 7 + c * 101) % 65536 - 32768))
               AS energy
      FROM sm GROUP BY media_id, i)
"""


@register(
    "audio_activity_segments",
    oracle=f"""
    WITH {_WAV_SYNTH_CTE},
    act AS (SELECT media_id, i FROM en WHERE energy > 20000),
    isl AS (
      SELECT media_id,
             i - row_number() OVER (PARTITION BY media_id ORDER BY i)
               AS grp
      FROM act),
    runs AS (
      SELECT media_id, grp, count(*) AS run_len
      FROM isl GROUP BY media_id, grp),
    seg AS (
      SELECT media_id, count(*) AS n_segments, max(run_len) AS longest
      FROM runs GROUP BY media_id),
    base AS (
      SELECT media_id, count(*) AS n_frames,
             sum(CASE WHEN energy > 20000 THEN 1 ELSE 0 END) AS n_active
      FROM en GROUP BY media_id)
    SELECT base.media_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(coalesce(n_segments, 0) AS BIGINT) AS n_segments,
           CAST(coalesce(longest, 0) AS BIGINT) AS longest_run
    FROM base LEFT JOIN seg USING (media_id)
    """,
    tags=("multimodal", "audio", "vad", "gaps-and-islands"),
)
def q_audio_activity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style activity segmentation over REAL decoded audio:
    per-frame energy (sum of |amplitude| across channels, integer)
    from the PCM decode, thresholded, then grouped into maximal runs
    of consecutive active frames with the gaps-and-islands idiom
    (frame_idx − row_number is constant within a run). Reports frame
    counts, active counts, segment counts, and the longest segment
    per clip — the silence-trimming / speech-extent primitive.

    Only (media_id, frame_idx, energy) rows leave the decoder
    (``operators/multimodal.py:audio_frame_energy``, vectorized
    numpy) — raw samples never shuffle. Energies are exact integers,
    so run boundaries and all counts hash-match the arithmetic
    oracle."""
    _utc(spark)
    from pyspark.sql import Window

    from ..operators.multimodal import audio_frame_energy, synthesize_wav_media

    en = audio_frame_energy(
        synthesize_wav_media(_t(spark, sf_dir, "documents"))
    ).withColumn("active", F.col("energy") > 20000)
    base = en.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum(F.col("active").cast("int")).cast("bigint").alias("n_active"),
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    runs = (
        en.filter("active")
        .withColumn("grp", F.col("frame_idx") - F.row_number().over(w))
        .groupBy("media_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    seg = runs.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("run_len").cast("bigint").alias("longest_run"),
    )
    return base.join(seg, "media_id", "left").select(
        "media_id",
        "n_frames",
        "n_active",
        F.coalesce("n_segments", F.lit(0)).cast("bigint").alias("n_segments"),
        F.coalesce("longest_run", F.lit(0)).cast("bigint").alias(
            "longest_run"
        ),
    )


@register(
    "image_phash_dedup",
    oracle=f"""
    WITH {_BMP_SYNTH_SQL},
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, 6)) AS tx FROM m),
    xy AS (
      SELECT media_id, w, h, tx, unnest(generate_series(0, 8)) AS ty
      FROM xs),
    cell AS (
      SELECT media_id, tx, ty,
             (((media_id * 7 + ((tx * w) // 7) * 3 + ((ty * h) // 9) * 5) % 256)
              + ((media_id * 11 + ((tx * w) // 7) * 2 + ((ty * h) // 9) * 13) % 256)
              + ((media_id * 3 + ((tx * w) // 7) * 17 + ((ty * h) // 9)) % 256))
             // 3 AS gray
      FROM xy),
    means AS (
      SELECT media_id, CAST(sum(gray) AS BIGINT) // 63 AS mn
      FROM cell GROUP BY media_id),
    ph AS (
      SELECT c.media_id,
             CAST(sum(CASE WHEN c.gray >= m.mn
                  THEN 1::BIGINT << (c.ty * 7 + c.tx) ELSE 0 END) AS BIGINT)
               AS phash
      FROM cell c JOIN means m USING (media_id)
      GROUP BY c.media_id)
    SELECT phash,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(media_id) AS BIGINT) AS canonical_id
    FROM ph
    GROUP BY phash
    HAVING count(*) >= 2
    """,
    tags=("multimodal", "dedup", "phash", "clustering"),
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based image dedup by perceptual-hash clustering:
    decode every BMP, compute the 63-bit average-hash, group images
    sharing a hash, and elect the min-id member canonical — the
    media analogue of ``exact_dedup`` (which clusters by BYTE hash
    and misses re-encodes; the perceptual key survives them).

    The visual-duplicate groupBy is LINEAR in the corpus — one
    shuffle of (media_id, 8-byte phash) rows, no pairwise join — so
    unlike a pair-finder its output can't go quadratic inside large
    duplicate families (the synthetic corpus has many: small frames
    upsampled to the 7x9 grid collide often, which is exactly the
    shape a crawl's thumbnail farm produces). Every bit of every
    hash is pinned by the arithmetic oracle."""
    _utc(spark)
    from ..operators.multimodal import image_phash

    media = synthesize_bmp_media(_t(spark, sf_dir, "documents"))
    return (
        image_phash(media)
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.min("media_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


@register(
    "jpeg_phash_near_dup",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + (doc_id % 5) * 9 AS w,
             18 + (doc_id % 4) * 11 AS h
      FROM documents),
    xs AS (
      SELECT media_id, w, h, unnest(generate_series(0, 6)) AS tx FROM m),
    xy AS (
      SELECT media_id, w, h, tx, unnest(generate_series(0, 8)) AS ty
      FROM xs),
    cell AS (
      SELECT media_id, tx, ty,
             (media_id * 11 + (((tx * w) // 7) // 16) * 17
              + (((ty * h) // 9) // 16) * 23) % 256 AS gray
      FROM xy),
    means AS (
      SELECT media_id, CAST(sum(gray) AS BIGINT) // 63 AS mn
      FROM cell GROUP BY media_id),
    ph AS (
      SELECT c.media_id,
             CAST(sum(CASE WHEN c.gray >= m.mn
                  THEN 1::BIGINT << (c.ty * 7 + c.tx) ELSE 0 END) AS BIGINT)
               AS phash
      FROM cell c JOIN means m USING (media_id)
      GROUP BY c.media_id)
    SELECT phash,
           CAST(count(*) AS BIGINT) AS n_images,
           CAST(min(media_id) AS BIGINT) AS canonical_id
    FROM ph
    GROUP BY phash
    HAVING count(*) >= 2
    """,
    tags=("multimodal", "dedup", "phash", "jpeg", "composition"),
)
def q_jpeg_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-based VISUAL dedup pipeline a multimodal corpus
    actually runs (VERDICT r6 item 6), composed end-to-end over the
    LOSSY real-world format: synthesize a 4:2:0 JPEG (restart
    intervals and all) per document, decode it through the full
    subsampled path, perceptual-hash every image (integer 63-bit
    average-hash, :func:`..operators.multimodal.image_phash` with
    the codec param that round 6 fixed), and cluster images sharing
    a hash with min-id canonical election.

    Byte-level dedup can never catch these — every payload differs
    (different entropy bytes per id) — but visually-identical
    content collides on the perceptual key even after a lossy
    re-encode. The oracle recomputes every hash bit arithmetically
    from the macroblock pixel formula, so the whole chain — MCU
    interleave, restart consumption, chroma upsample, integer
    resample, threshold, bit packing — must be exact for the hash to
    match. Linear in the corpus: one shuffle of (media_id, 8-byte
    phash), no pairwise join, the same 100 TB shape as
    ``image_phash_dedup``."""
    _utc(spark)
    from ..operators.multimodal import image_phash, synthesize_jpeg420_media

    media = synthesize_jpeg420_media(_t(spark, sf_dir, "documents"))
    return (
        image_phash(media, codec="jpeg")
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.min("media_id").cast("bigint").alias("canonical_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


@register(
    "json_props_parse",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT))
                AS INTEGER) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT))
                AS INTEGER) AS max_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "semi-structured", "from_json", "parse"),
)
def q_json_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload PARSING (the read side of
    ``json_log_payload``'s serialization): ``from_json`` lifts the
    events.props JSON into a typed struct in the scan projection, and
    integer stats aggregate per event type, with a NULL count
    surfacing unparseable payloads instead of crashing the batch
    (PERMISSIVE semantics — the corrupt-record posture
    ``csv_permissive_parse`` pins for CSV, here for JSON).

    The parse is a JVM-side expression (Jackson under codegen) in
    the map stage — no extra pass, no UDF; only (type, int) pairs
    reach the aggregate. Exact integer sums keep the oracle
    hash-exact."""
    _utc(spark)
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        _t(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unparsed"),
        )
    )


@register(
    "json_array_explode",
    oracle="""
    WITH e AS (SELECT event_id FROM events),
    ix AS (
      SELECT event_id,
             unnest(generate_series(1, 1 + event_id % 3)) AS idx
      FROM e)
    SELECT CAST(idx AS INTEGER) AS idx,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum((event_id * idx) % 97) AS BIGINT) AS sum_val
    FROM ix
    GROUP BY idx
    """,
    tags=("json", "semi-structured", "explode", "nested-array"),
)
def q_json_array_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON-array round-trip + lateral explode: each event
    serializes a variable-length array of (idx, val) structs to a
    JSON string (``to_json``), parses it BACK with an
    ``array<struct>`` schema (``from_json``), explodes the parsed
    array 1:N, and aggregates per idx — the full semi-structured
    ingestion path (serialize → store → parse → flatten) in one
    verified plan. The oracle recomputes the arithmetic from
    ``generate_series`` directly, so a parse or explode defect
    anywhere breaks value equality, not just row counts.

    Parse and explode run in the scan stage (no shuffle before the
    1:N); only exploded integers reach the aggregate."""
    _utc(spark)
    items = F.transform(
        F.sequence(F.lit(1), 1 + F.col("event_id") % 3),
        lambda i: F.struct(
            i.alias("idx"), ((F.col("event_id") * i) % 97).alias("val")
        ),
    )
    payload = F.to_json(items)
    parsed = F.from_json(
        payload, "array<struct<idx: bigint, val: bigint>>"
    )
    return (
        _t(spark, sf_dir, "events")
        .select(F.explode(parsed).alias("item"))
        .select(
            F.col("item.idx").cast("int").alias("idx"),
            F.col("item.val").alias("val"),
        )
        .groupBy("idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("val").cast("bigint").alias("sum_val"),
        )
    )


@register(
    "protobuf_wire_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(doc_id % 1000 AS BIGINT) AS event_count,
           CAST((doc_id * 37) % 2001 - 1000 AS BIGINT) AS balance,
           CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS checksum,
           'rec-' || CAST(doc_id % 50 AS VARCHAR) AS name,
           CAST(doc_id % 7 AS INTEGER) AS sub_kind,
           'tag' || CAST(doc_id % 13 AS VARCHAR) AS sub_tag,
           CAST(doc_id % 5 + doc_id % 11 + doc_id % 17 AS BIGINT)
             AS packed_sum,
           CAST(1 AS INTEGER) AS n_unknown
    FROM documents
    """,
    tags=("sources", "binary", "protobuf", "wire-format", "mapInPandas"),
)
def q_protobuf_wire_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL protobuf WIRE-FORMAT decode, value-checked — the opaque
    binary record column a production event pipeline actually lands
    (no schema compiler in the loop): synthesize one serialized
    record per document exercising every wire construct — varints,
    a NEGATIVE ZigZag sint64, little-endian fixed32, a UTF-8 string,
    a nested message, PACKED repeated varints, and one field the
    parser does not know — then decode it all back inside
    Arrow-batched mapInPandas (``functions/protowire.py``, public
    encoding spec). The unknown field must be skipped BY WIRE TYPE
    and counted, not break the walk — protobuf's
    forward-compatibility contract, the thing that lets a reader
    survive producer schema evolution. The oracle recomputes every
    field from the synthesis formulas; a varint continuation,
    zigzag, endianness or skip bug breaks the hash."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_proto_records,
        synthesize_proto_media,
    )

    media = synthesize_proto_media(_t(spark, sf_dir, "documents"))
    return extract_proto_records(media)


@register(
    "pdf_text_extract",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 3 AS np FROM documents),
    pg AS (
      SELECT media_id, np, unnest(generate_series(0, np - 1)) AS p FROM m),
    txt AS (
      SELECT media_id, np, p,
             'Invoice ' || CAST(media_id AS VARCHAR) || ' page '
               || CAST(p AS VARCHAR)
               || 'line two ' || CAST(media_id + p AS VARCHAR)
               || 'part' || CAST(p AS VARCHAR)
               || 'a(b)c\\dA'
               || '#' || CAST(p AS VARCHAR) AS s
      FROM pg)
    SELECT media_id,
           CAST(max(np) AS INT) AS n_pages,
           CAST(max(np) * 2 + 4 AS INT) AS n_objects,
           string_agg(s, '|' ORDER BY p) AS text,
           CAST(length(string_agg(s, '|' ORDER BY p)) AS INT)
             AS text_chars
    FROM txt
    GROUP BY media_id
    """,
    tags=("sources", "pdf", "document", "text-extraction", "mapInPandas"),
)
def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF TEXT EXTRACTION from raw bytes — the #1 document format a
    100 TB training corpus actually contains, parsed from first
    principles (``functions/pdf_text.py``): startxref tail scan,
    classic cross-reference table (20-byte entries, free-list head),
    a real PDF object tokenizer (dicts, arrays, names, literal
    strings with nesting/escape/octal, hex strings, indirect refs,
    indirect /Length resolution), catalog -> page tree -> /Contents
    walk, and FlateDecode content streams decompressed through a
    verified zlib container (header check + Adler-32). Text comes from the Tj / ' / TJ show operators in
    operator order (TJ kerning numbers skipped), and the oracle
    recomputes the ENTIRE extracted string per document, so the
    value hash pins unescaping, hex decode, stream inflation, and
    page ordering at once. PDF 1.5 xref/object streams are covered
    by ``pdf_xref_stream_extract``; encryption quarantines via the
    documented-boundary contract."""
    from ..operators.multimodal import (
        extract_pdf_text_features,
        synthesize_pdf_media,
    )

    media = synthesize_pdf_media(_t(spark, sf_dir, "documents"))
    return extract_pdf_text_features(media)


@register(
    "pdf_xref_stream_extract",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 3 AS np FROM documents),
    pg AS (
      SELECT media_id, np, unnest(generate_series(0, np - 1)) AS p FROM m),
    txt AS (
      SELECT media_id, np, p,
             'Invoice ' || CAST(media_id AS VARCHAR) || ' page '
               || CAST(p AS VARCHAR)
               || 'line two ' || CAST(media_id + p AS VARCHAR)
               || 'part' || CAST(p AS VARCHAR)
               || 'a(b)c\\dA'
               || '#' || CAST(p AS VARCHAR) AS s
      FROM pg)
    SELECT media_id,
           CAST(max(np) AS INT) AS n_pages,
           CAST(max(np) * 2 + 5 AS INT) AS n_objects,
           string_agg(s, '|' ORDER BY p) AS text,
           CAST(length(string_agg(s, '|' ORDER BY p)) AS INT)
             AS text_chars
    FROM txt
    GROUP BY media_id
    """,
    tags=("sources", "pdf", "document", "xref-stream", "mapInPandas"),
)
def q_pdf_xref_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 1.5 CROSS-REFERENCE-STREAM extraction (round 10) — the
    layout every modern PDF writer emits by default, and the
    round-9 verdict's #1 quarantine gap on real corpora: the xref is
    itself a FlateDecode ``/Type /XRef`` stream (``/W`` field
    widths, ``/Index`` subsections, type-0/1/2 entries) decoded
    through PNG predictor 12 row filters (REUSING ``png.py``'s
    unfilter — Sub/Up/Paeth rows rotated by seed), and the document
    objects live inside an OBJECT STREAM (``/Type /ObjStm``,
    directory pairs + ``/First``).  Same text plan as
    ``pdf_text_extract``, so the oracle pins the full string again;
    only the object count differs (+1 ObjStm, +1 XRef stream).
    Reader: ``functions/pdf_text.py`` (`_parse_xref_stream_at`,
    `_Document._objstm_obj`)."""
    from ..operators.multimodal import (
        extract_pdf_text_features,
        synthesize_pdf_xref_stream_media,
    )

    media = synthesize_pdf_xref_stream_media(_t(spark, sf_dir, "documents"))
    return extract_pdf_text_features(media)


@register(
    "pdf_incremental_extract",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 3 AS np FROM documents),
    pg AS (
      SELECT media_id, np, unnest(generate_series(0, np - 1)) AS p FROM m),
    txt AS (
      SELECT media_id, np, p,
             CASE WHEN p = 0 THEN
               'rev2 ' || CAST(media_id AS VARCHAR) || ' page 0'
             ELSE
               'Invoice ' || CAST(media_id AS VARCHAR) || ' page '
                 || CAST(p AS VARCHAR)
                 || 'line two ' || CAST(media_id + p AS VARCHAR)
                 || 'part' || CAST(p AS VARCHAR)
                 || 'a(b)c\\dA'
                 || '#' || CAST(p AS VARCHAR)
             END AS s
      FROM pg)
    SELECT media_id,
           CAST(max(np) AS INT) AS n_pages,
           CAST(max(np) * 2 + 4 AS INT) AS n_objects,
           string_agg(s, '|' ORDER BY p) AS text,
           CAST(length(string_agg(s, '|' ORDER BY p)) AS INT)
             AS text_chars
    FROM txt
    GROUP BY media_id
    """,
    tags=("sources", "pdf", "document", "incremental-update",
          "mapInPandas"),
)
def q_pdf_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY-UPDATED PDF extraction (round 10) — how every
    PDF editor saves: original bytes untouched, a replacement
    content stream appended, a second xref section + trailer whose
    ``/Prev`` links back to the base table.  The reader follows the
    ``/Prev`` chain newest-first with a newest-wins merge in which
    FREED entries SHADOW older offsets (the update frees the
    orphaned indirect-length object, so resurrecting it from the old
    table would be a wrong answer).  Page 0's text is replaced by
    the update (``rev2 {id} page 0``) — the oracle pins that the
    NEW object wins and the untouched pages still read through the
    old table."""
    from ..operators.multimodal import (
        extract_pdf_text_features,
        synthesize_pdf_incremental_media,
    )

    media = synthesize_pdf_incremental_media(_t(spark, sf_dir, "documents"))
    return extract_pdf_text_features(media)


@register(
    "pdf_corpus_text_stats",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 3 AS np FROM documents),
    pg AS (
      SELECT media_id, np, unnest(generate_series(0, np - 1)) AS p FROM m),
    txt AS (
      SELECT media_id, p,
             'Invoice ' || CAST(media_id AS VARCHAR) || ' page '
               || CAST(p AS VARCHAR)
               || 'line two ' || CAST(media_id + p AS VARCHAR)
               || 'part' || CAST(p AS VARCHAR)
               || 'a(b)c\\dA'
               || '#' || CAST(p AS VARCHAR) AS s
      FROM pg),
    whole AS (
      SELECT media_id, string_agg(s, '|' ORDER BY p) AS text
      FROM txt GROUP BY media_id),
    toks AS (
      SELECT media_id,
             unnest(string_split_regex(text, '[^A-Za-z0-9]+')) AS tok
      FROM whole),
    tok2 AS (SELECT media_id, tok FROM toks WHERE tok <> '')
    SELECT media_id,
           count(*) AS n_tokens,
           count(DISTINCT tok) AS n_distinct,
           CAST(sum(CASE WHEN regexp_full_match(tok, '[0-9]+')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           CAST(max(length(tok)) AS INT) AS longest_token
    FROM tok2
    GROUP BY media_id
    """,
    tags=("pdf", "corpus", "composition", "tokenize", "zero-udf-wide"),
)
def q_pdf_corpus_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF -> corpus COMPOSITION: the document pipeline a 100 TB
    ingest actually runs. Python does only the NARROW step — the
    per-payload PDF reader walk (`pdf_text_extract`: xref, object
    tokenizer, inflated FlateDecode streams, text operators) —
    then every WIDE step (tokenize by regexp split, empty filter,
    explode, distinct/numeric/length rollups) runs JVM-side in
    whole-stage codegen. The same Python-narrow/JVM-wide handoff as
    `warc_response_text_stats`, here over the dominant document
    format. The oracle independently reconstructs each document's
    text from the synthesis plan and re-tokenizes it in SQL, so the
    value hash pins extraction AND tokenization."""
    from ..operators.multimodal import (
        extract_pdf_text_features,
        synthesize_pdf_media,
    )

    text = extract_pdf_text_features(
        synthesize_pdf_media(_t(spark, sf_dir, "documents"))
    ).select("media_id", "text")
    toks = text.select(
        "media_id",
        F.explode(F.split("text", "[^A-Za-z0-9]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    return toks.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.col("tok").rlike("^[0-9]+$").cast("long")).alias("n_numeric"),
        F.max(F.length("tok")).cast("int").alias("longest_token"),
    )


@register(
    "orc_stripe_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 60 + (doc_id * 7) % 240 AS n
      FROM documents),
    rows_ AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i FROM m),
    vals AS (
      SELECT media_id, n, i,
             CASE WHEN i < 20 THEN media_id % 100
                  WHEN i < 40 THEN media_id + 3 * i
                  ELSE (media_id * 11 + i * 37) % 10000
                       + CASE WHEN i % 59 = 0 THEN 10000000 ELSE 0 END
             END AS k,
             2 + CASE WHEN (media_id + i) % 13 >= 10 THEN 1 ELSE 0 END
               AS slen
      FROM rows_)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(1 AS INT) AS n_stripes,
           CAST(sum(k) AS BIGINT) AS int_sum,
           CAST(max(n) AS BIGINT) AS int_count,
           CAST(sum(slen) AS BIGINT) AS str_bytes,
           CAST(max(n) AS BIGINT) AS str_count
    FROM vals
    GROUP BY media_id
    """,
    tags=("sources", "orc", "rle-v2", "columnar", "mapInPandas"),
)
def q_orc_stripe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC stripe DATA decode — past the footer
    (`orc_footer_scan`) and into the column streams, the ORC
    sibling of `parquet_page_decode`: stripe-footer protobuf walk
    (stream list + column encodings via the same ``protowire``
    reuse), then the full **RLEv2** integer codec — SHORT_REPEAT,
    DIRECT, PATCHED_BASE (sign-magnitude base, gap-continuation
    patches), and DELTA sub-encodings with the 5-bit width table —
    plus string reassembly from the LENGTH stream (unsigned RLEv2)
    and concatenated DATA bytes. The synthesized columns are shaped
    to hit all four sub-encodings (verified: the sparse-outlier
    block makes pyarrow emit PATCHED_BASE runs); the published ORC
    spec's own worked example vectors pin each sub-decoder in
    ``tests/test_orc_pages.py``. The producer is pyarrow — an
    independent writer — and every decoded row count is
    cross-checked against both stripe and footer totals. Compressed
    stripes / nullable columns are documented boundaries: the
    engine's production ORC path is ``spark.read.orc``
    (`orc_roundtrip`); this byte path exists to PIN the format."""
    from ..operators.multimodal import (
        extract_orc_values,
        synthesize_orc_values_media,
    )

    media = synthesize_orc_values_media(_t(spark, sf_dir, "documents"))
    return extract_orc_values(media)


@register(
    "orc_rich_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 80 + (doc_id * 9) % 160 AS n
      FROM documents),
    ii AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, n, i,
             i % 7 = 0 AS k_null,
             (media_id * 11 + i * 37) % 10000 AS kv,
             i % 11 = 3 AS s_null,
             length('w' || CAST((media_id + i) % 13 AS VARCHAR)) AS slen,
             (media_id + i) % 13 AS sval
      FROM ii)
    SELECT media_id,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(1 AS INTEGER) AS n_stripes,
           CAST(CASE WHEN media_id % 2 = 0 THEN 1 ELSE 2 END
                AS INTEGER) AS codec,
           CAST(sum(CASE WHEN k_null THEN 0 ELSE kv END) AS BIGINT)
             AS int_sum,
           CAST(sum(CASE WHEN k_null THEN 0 ELSE 1 END) AS BIGINT)
             AS int_count,
           CAST(sum(CASE WHEN k_null THEN 1 ELSE 0 END) AS BIGINT)
             AS int_nulls,
           CAST(sum(CASE WHEN s_null THEN 0 ELSE slen END) AS BIGINT)
             AS str_bytes,
           CAST(sum(CASE WHEN s_null THEN 0 ELSE 1 END) AS BIGINT)
             AS str_count,
           CAST(sum(CASE WHEN s_null THEN 1 ELSE 0 END) AS BIGINT)
             AS str_nulls,
           CAST(count(DISTINCT CASE WHEN s_null THEN NULL ELSE sval END)
                AS BIGINT) AS dict_entries
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "orc", "compression", "nullable", "dictionary",
          "mapInPandas"),
)
def q_orc_rich_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ORC profile (round 11 — VERDICT r10 item 5):
    ZLIB/SNAPPY-COMPRESSED footers, stripe footers and streams
    (3-byte chunk headers, decompressed by ``inflate.py`` and the
    hand snappy codec — the independent pyarrow producer pins them
    yet again), PRESENT streams for nullable columns (Byte RLE
    over MSB-first bit-packed booleans; popcount fenced against the
    DATA value count), and DICTIONARY_V2 strings
    (``dictionary_key_size_threshold=1`` forces the encoding; the
    declared dictionarySize, LENGTH entries, DICTIONARY_DATA bytes
    and index range all cross-fence).  Every aggregate — per-column
    null counts, non-null int sum, reconstructed string bytes,
    dictionary cardinality — is recomputed by the DuckDB oracle from
    the writer plan."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_orc_rich_scan,
        synthesize_orc_rich_media,
    )

    media = synthesize_orc_rich_media(_t(spark, sf_dir, "documents"))
    return extract_orc_rich_scan(media).select(
        "media_id", "n_rows", "n_stripes", "codec", "int_sum",
        "int_count", "int_nulls", "str_bytes", "str_count",
        "str_nulls", "dict_entries",
    )


@register(
    "deflate_stream_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             40 + (doc_id * 17) % 300 AS n,
             doc_id % 3 = 0 AS has_tail
      FROM documents),
    struct_sum AS (
      SELECT media_id, n, has_tail,
             sum((media_id * 5 + j) % 251) AS s
      FROM m, unnest(generate_series(0, n - 1)) AS t(j)
      GROUP BY media_id, n, has_tail),
    tail_sum AS (
      SELECT media_id, sum((j * j * 31 + media_id) % 256) AS s
      FROM m, unnest(generate_series(0, 63)) AS t(j)
      WHERE has_tail
      GROUP BY media_id)
    SELECT ss.media_id,
           CAST(ss.n + CASE WHEN ss.has_tail THEN 64 ELSE 0 END
                AS BIGINT) AS n_bytes,
           CAST(ss.s + coalesce(ts.s, 0) AS BIGINT) AS sum_bytes,
           CAST((ss.media_id * 5) % 251 AS INT) AS first_byte,
           CAST(CASE WHEN ss.has_tail
                     THEN (63 * 63 * 31 + ss.media_id) % 256
                     ELSE (ss.media_id * 5 + ss.n - 1) % 251
                END AS INT) AS last_byte
    FROM struct_sum ss LEFT JOIN tail_sum ts USING (media_id)
    """,
    tags=("codec", "deflate", "decompression", "mapInPandas"),
)
def q_deflate_stream_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE decode (RFC 1951) — the algorithm under gzip, ZIP,
    PNG, and HTTP content-encoding — through the stdlib zlib
    decompressor with a bounded output and truncation rejected
    (``functions/inflate.py``). The PRODUCER is
    the stdlib zlib compressor rotating levels 0-9 (level 0 emits
    stored blocks) and forcing Z_FIXED strategy on every 4th stream,
    so all three block types are exercised in every batch; the
    oracle recomputes byte counts/sums/endpoints from the synthesis
    formulas, so a value match proves the recovered BYTES, not just
    that something decompressed."""
    from ..operators.multimodal import (
        extract_deflate_content,
        synthesize_deflate_media,
    )

    media = synthesize_deflate_media(_t(spark, sf_dir, "documents"))
    return extract_deflate_content(media)


@register(
    "mime_message_parse",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             doc_id % 3 AS n_bin,
             CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS has_qp
      FROM documents)
    SELECT media_id,
           CASE WHEN media_id % 3 = 0
                THEN 'Báo giá #' || CAST(media_id AS VARCHAR)
                ELSE 'Order update ' || CAST(media_id AS VARCHAR)
           END AS subject,
           'mail' || CAST(media_id % 5 AS VARCHAR) || '.example.com'
             AS from_domain,
           CASE WHEN n_bin + has_qp >= 1 THEN 'multipart/mixed'
                ELSE 'text/plain' END AS content_type,
           CAST(CASE WHEN n_bin + has_qp >= 1 THEN 1 + n_bin + has_qp
                     ELSE 1 END AS INT) AS n_parts,
           CAST(n_bin + has_qp AS INT) AS n_attachments,
           CAST(CASE WHEN media_id % 7 = 1
                     THEN 10 + length(CAST(media_id AS VARCHAR))
                     ELSE 6 * (media_id % 5 + 1) END AS INT) AS body_chars,
           CAST(CASE n_bin
                WHEN 0 THEN 0
                WHEN 1 THEN 10 + media_id % 40
                ELSE 20 + media_id % 40 + (media_id + 1) % 40
           END AS BIGINT) AS attach_bytes,
           CASE WHEN has_qp = 1
                THEN 'total=' || CAST(media_id AS VARCHAR) || '=end'
                     || chr(10)
                ELSE NULL END AS qp_text,
           'm' || CAST(media_id AS VARCHAR) || '@example.org'
             AS message_id,
           CASE WHEN media_id % 16 = 0 THEN NULL
                WHEN media_id % 16 < 4
                THEN 'm' || CAST(media_id - media_id % 16 AS VARCHAR)
                     || '@example.org'
                ELSE 'm' || CAST(media_id - media_id % 16 + media_id % 4
                                 AS VARCHAR) || '@example.org'
           END AS in_reply_to
    FROM m
    """,
    tags=("sources", "mime", "email", "mapInPandas", "corpus"),
)
def q_mime_message_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIME e-mail parsing from raw RFC 5322 bytes — the mail-corpus
    ingestion format (Enron, mailing-list dumps, .eml crawls). One
    message per document is written by the STDLIB ``email`` producer
    (an independent serializer) and parsed by the hand-rolled reader
    in ``functions/mime_mail.py``: header UNFOLDING, RFC 2047
    encoded-word subjects (the Vietnamese subjects force B-encoding —
    the reference's own text domain, SURVEY §2.7), Content-Type
    parameter/boundary parsing, multipart/mixed splitting per RFC
    2046 (the CRLF-owns-the-delimiter subtlety), and hand-rolled
    base64 + quoted-printable transfer decoding. The oracle
    recomputes every feature — including the DECODED unicode subject
    and the QP-decoded attachment text — from the synthesis plan, so
    the value hash pins the full decode chain, not just counts.
    Arrow-batched ``mapInPandas``; at 100 TB the per-message parse is
    embarrassingly parallel and the cost is the payload fetch."""
    from ..operators.multimodal import (
        extract_email_metadata,
        synthesize_email_media,
    )

    media = synthesize_email_media(_t(spark, sf_dir, "documents"))
    return extract_email_metadata(media)


@register(
    "email_thread_reconstruct",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT doc_id AS id,
             CASE WHEN doc_id % 16 = 0 THEN NULL
                  WHEN doc_id % 16 < 4 THEN doc_id - doc_id % 16
                  ELSE doc_id - doc_id % 16 + doc_id % 4
             END AS parent
      FROM documents),
    chain AS (
      SELECT id, id AS root, 0 AS depth FROM m WHERE parent IS NULL
      UNION ALL
      SELECT m.id, c.root, c.depth + 1
      FROM m JOIN chain c ON m.parent = c.id)
    SELECT root AS thread_root,
           count(*) AS thread_size,
           CAST(max(depth) AS INT) AS max_depth,
           CAST(sum(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS direct_replies
    FROM chain
    GROUP BY root
    """,
    tags=("mime", "email", "graph", "thread", "composition"),
)
def q_email_thread_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMAIL THREAD RECONSTRUCTION from raw RFC 5322 bytes — the
    mail-corpus structuring step (mailing-list archives and Enron-
    style dumps become TRAINING CONVERSATIONS only after replies are
    stitched to their roots). Composition proof: the Message-ID /
    In-Reply-To headers are parsed out of real MIME bytes by the
    hand-rolled reader (`mime_message_parse`), the numeric ids are
    recovered JVM-side by regexp, and the reply forest is resolved
    with a BOUNDED ancestor join (the synthesis guarantees depth
    <= 2, so two hops provably reach every root — the same
    bounded-rounds discipline as the graph family; an unbounded
    corpus would iterate with the `dedup_components` loop instead).
    The oracle is a genuinely independent RECURSIVE CTE over the
    parent formula. Per-thread rollups (size, max depth, direct
    replies) are what a conversation-mining pipeline materializes."""
    from ..operators.multimodal import (
        extract_email_metadata,
        synthesize_email_media,
    )

    parsed = extract_email_metadata(
        synthesize_email_media(_t(spark, sf_dir, "documents"))
    )
    nodes = parsed.select(
        F.regexp_extract("message_id", "^m([0-9]+)@", 1)
        .cast("long")
        .alias("id"),
        F.when(
            F.col("in_reply_to").isNotNull(),
            F.regexp_extract("in_reply_to", "^m([0-9]+)@", 1).cast("long"),
        ).alias("parent"),
    )
    c, p = nodes.alias("c"), nodes.alias("p")
    resolved = c.join(
        p, F.col("c.parent") == F.col("p.id"), "left"
    ).select(
        F.col("c.id").alias("id"),
        F.when(F.col("c.parent").isNull(), F.col("c.id"))
        .otherwise(F.coalesce(F.col("p.parent"), F.col("c.parent")))
        .alias("root"),
        F.when(F.col("c.parent").isNull(), F.lit(0))
        .when(F.col("p.parent").isNull(), F.lit(1))
        .otherwise(F.lit(2))
        .alias("depth"),
    )
    return resolved.groupBy(F.col("root").alias("thread_root")).agg(
        F.count(F.lit(1)).alias("thread_size"),
        F.max("depth").cast("int").alias("max_depth"),
        F.sum((F.col("depth") == 1).cast("long")).alias("direct_replies"),
    )


@register(
    "zip_archive_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 2 + doc_id % 3 AS nm FROM documents),
    mem AS (
      SELECT media_id, nm, i,
             'f' || CAST(i AS VARCHAR) || '_'
               || CAST(media_id % 9 AS VARCHAR) || '.txt' AS name,
             -- ZIP64 seeds (media_id%4=0) DECLARE 4 GiB + plan size,
             -- all STORED; classic seeds carry the plan size
             CASE WHEN media_id % 4 = 0
                  THEN 4294967296 + CAST(10 + (media_id * 3 + i) % 40 AS BIGINT)
                  ELSE CAST(10 + (media_id * 3 + i) % 40 AS BIGINT) END AS usize,
             CASE WHEN media_id % 4 = 0 THEN 1
                  ELSE (media_id + i) % 2 END AS stored
      FROM m, unnest(generate_series(0, nm - 1)) AS t(i))
    SELECT media_id,
           CAST(max(nm) AS INTEGER) AS n_members,
           CAST(sum(stored) AS INTEGER) AS n_stored,
           CAST(sum(1 - stored) AS INTEGER) AS n_deflated,
           CAST(sum(usize) AS BIGINT) AS total_uncompressed,
           array_to_string(list_sort(list(name)), ',') AS member_names
    FROM mem
    GROUP BY media_id
    """,
    tags=("sources", "archive", "zip", "mapInPandas", "triage"),
)
def q_zip_archive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ZIP central-directory scan, value-checked — archive
    triage for corpus ingestion (how many members, which compression
    methods, what total payload — answered from the archive TAIL,
    never decompressing member data): synthesize one archive per
    document with Python's STDLIB ``zipfile`` writer — an
    INDEPENDENT producer, so unlike the self-synthesized codecs the
    hand-rolled parser (``functions/zipscan.py``) is exercised
    against a genuine third-party byte layout — then walk the real
    structure inside Arrow-batched mapInPandas: the
    end-of-central-directory record located by scanning backwards
    through the variable-length archive comment, entry-count and
    offset validation, and every 46-byte central file header
    (method, sizes, CRC, name). Member plans (names, counts,
    methods, uncompressed sizes) are modular formulas the oracle
    recomputes; compressed sizes and CRCs are producer-dependent
    and are pinned against ``zlib`` in ``tests/test_zipscan.py``.

    Every 4th document is a SPARSE ZIP64 archive (round 8 — VERDICT
    r7 item 2): >4 GiB DECLARED member sizes in 0x0001 extra
    fields, saturated EOCD fields redirecting through the ZIP64
    locator to the EOCD64 record — routine at 100 TB, synthesized
    without materializing 4 GiB. The EOCD64 byte layout is also
    pinned against the stdlib producer via a >65535-member
    ``zipfile`` archive in the tests."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_zip_structure,
        synthesize_zip_media,
    )

    media = synthesize_zip_media(_t(spark, sf_dir, "documents"))
    return extract_zip_structure(media)


@register(
    "tar_archive_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 1 + doc_id % 4 AS nm FROM documents),
    mem AS (
      SELECT media_id, nm, i,
             -- long-name dialect seeds (media_id%3 != 2: pax and GNU)
             -- interpose a 100+media_id%30 char directory run, too
             -- long for the classic ustar name field
             'd' || CAST(media_id % 7 AS VARCHAR)
               || CASE WHEN media_id % 3 <> 2
                       THEN '/' || repeat('p', 100 + media_id % 30)
                       ELSE '' END
               || '/m' || CAST(i AS VARCHAR) || '.bin' AS name,
             CAST(5 + (media_id * 7 + i * 3) % 120 AS BIGINT) AS sz
      FROM m, unnest(generate_series(0, nm - 1)) AS t(i))
    SELECT media_id,
           CAST(max(nm) AS INTEGER) AS n_members,
           CAST(sum(sz) AS BIGINT) AS total_bytes,
           CAST(1 AS INTEGER) AS n_dirs_refd,
           array_to_string(list_sort(list(name)), ',') AS member_names
    FROM mem
    GROUP BY media_id
    """,
    tags=("sources", "archive", "tar", "mapInPandas", "triage"),
)
def q_tar_archive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ustar (tar) structure scan, value-checked — the
    sequential-archive companion to `zip_archive_scan` (tar has no
    central directory, so triage IS the 512-byte header walk):
    synthesize one archive per document with the STDLIB ``tarfile``
    writer (an independent producer again) and parse by hand inside
    Arrow-batched mapInPandas: NUL-terminated names, octal size
    fields, per-header CHECKSUM verification with the checksum field
    blanked to spaces (the format's integrity feature — a single
    corrupted header byte fails loudly), 512-aligned content skips,
    and the NUL-block end-of-archive marker. Member plans are
    modular formulas the oracle recomputes.

    The dialect ROTATES with the id (round 8 — VERDICT r7 item 2):
    pax with ``x`` extended headers (``path`` record overrides, the
    POSIX answer to >100-char paths), GNU with ``L`` longname
    entries, and classic ustar — all three real-world layouts in
    every batch, with the >100-char fixture paths forcing the
    long-name machinery of the first two."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_tar_structure,
        synthesize_tar_media,
    )

    media = synthesize_tar_media(_t(spark, sf_dir, "documents"))
    return extract_tar_structure(media)


@register(
    "gzip_member_decode",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + (doc_id * 11) % 200 AS n
      FROM documents),
    b AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS j
      FROM m)
    SELECT media_id,
           'log' || CAST(media_id % 20 AS VARCHAR) || '.txt' AS fname,
           CAST(max(n) AS BIGINT) AS n_bytes,
           CAST(sum((media_id * 3 + j) % 256) AS BIGINT) AS sum_bytes
    FROM b
    GROUP BY media_id
    """,
    tags=("sources", "gzip", "deflate", "mapInPandas", "verified-decode"),
)
def q_gzip_member_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL verified gzip decode, value-checked — completing the
    archive trio (`zip_archive_scan` and `tar_archive_scan` are
    tail/header TRIAGE; gzip files carry exactly one member, so
    triage IS decode): synthesize one RFC 1952 member per document
    (FNAME flag, raw-deflate body via the stdlib producer, CRC32 +
    ISIZE trailer) and run the whole pipeline inside Arrow-batched
    mapInPandas — header walk with all four optional flag fields,
    raw-DEFLATE inflate (stdlib zlib, the PNG decoder's dependency
    budget), and MANDATORY trailer verification: the CRC32 and ISIZE
    must match the recovered bytes, so a corrupt stream quarantines
    rather than returning silently wrong content. The oracle
    recomputes the content length and BYTE SUM from the synthesis
    formula — wrong inflate output cannot hash-match."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_gzip_content,
        synthesize_gzip_media,
    )

    media = synthesize_gzip_media(_t(spark, sf_dir, "documents"))
    return extract_gzip_content(media)


@register(
    "versioned_change_feed",
    oracle="""
    WITH v1 AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM events
      WHERE (event_type = 'purchase' OR event_type = 'error')
        AND value >= 50
      GROUP BY 1),
    v2 AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1),
    cdf AS (
      SELECT coalesce(v2.day, v1.day) AS day,
             v1.revenue AS revenue_before,
             v2.revenue AS revenue_after,
             CASE WHEN v1.day IS NULL THEN 'insert'
                  WHEN v2.day IS NULL THEN 'delete'
                  WHEN v1.revenue <> v2.revenue THEN 'update'
                  ELSE 'same' END AS change_type
      FROM v1 FULL OUTER JOIN v2 ON v1.day = v2.day)
    SELECT day, change_type, revenue_before, revenue_after
    FROM cdf WHERE change_type <> 'same'
    """,
    tags=("lakehouse", "cdf", "versioned-table", "time-travel"),
)
def q_versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE DATA FEED between two committed versions of
    a versioned table — Delta's ``table_changes`` / Iceberg's
    changelog, the primitive that lets downstream consumers process
    ONLY what a backfill touched instead of re-reading the snapshot
    (`time_travel_diff` answers 'what does each version say'; this
    emits the delta stream a pipeline subscribes to). Scenario: v1
    is a buggy load (double-counts high-value 'error' retries as
    revenue and drops purchases under 50); v2 is the corrected full
    backfill. The feed classifies every changed day as
    insert / update / delete with before/after values — unchanged
    days are NOT emitted, which is the entire point of a CDF.

    Engine path: two real commits through the CAS log
    (``sources/versioned.py``), both snapshots read back BY VERSION
    NUMBER, one full-outer join on the key. The oracle recomputes
    both versions from raw events and the same classification. At
    100 TB the diff cost is bounded by the two snapshots' key
    cardinality, not the fact table — and a production system would
    store per-commit row deltas to skip even that (documented
    trade)."""
    _utc(spark)
    from ..sources.versioned import read_version, write_version

    root = _scratch("versioned_cdf")
    ev = _t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,4)")
    v1 = (
        ev.filter(
            ((F.col("event_type") == "purchase") | (F.col("event_type") == "error"))
            & (F.col("value") >= 50)
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(dec).cast("double").alias("revenue"))
    )
    v2 = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(dec).cast("double").alias("revenue"))
    )
    write_version(v1, root)
    write_version(v2, root)
    r1 = read_version(spark, root, version=1).select(
        F.col("day").alias("day1"), F.col("revenue").alias("revenue_before")
    )
    r2 = read_version(spark, root, version=2).select(
        F.col("day").alias("day2"), F.col("revenue").alias("revenue_after")
    )
    cdf = r1.join(r2, F.col("day1") == F.col("day2"), "full_outer").select(
        F.coalesce("day2", "day1").alias("day"),
        F.when(F.col("day1").isNull(), F.lit("insert"))
        .when(F.col("day2").isNull(), F.lit("delete"))
        .when(F.col("revenue_before") != F.col("revenue_after"), F.lit("update"))
        .otherwise(F.lit("same"))
        .alias("change_type"),
        "revenue_before",
        "revenue_after",
    )
    return cdf.filter(F.col("change_type") != "same").select(
        "day", "change_type", "revenue_before", "revenue_after"
    )


@register(
    "data_skipping_scan",
    oracle="""
    SELECT CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
    GROUP BY 1
    """,
    tags=("lakehouse", "data-skipping", "versioned-table", "stats"),
)
def q_data_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-LEVEL DATA SKIPPING on a versioned table — the min/max
    stats prune that makes a 100 TB time-range query read a sliver
    instead of the table (Delta/Iceberg's add-file stats, reduced to
    filesystem essentials in ``sources/versioned.py``). The commit
    path lifts per-file min/max for the chosen columns out of the
    parquet FOOTERS the write already produced (zero extra data I/O)
    into a ``_stats.json`` manifest inside the immutable snapshot
    dir; the pruned reader opens only files whose range intersects
    the predicate. The write clusters by ``repartitionByRange`` on
    the skip column so files carry TIGHT disjoint ranges — the same
    reason production tables Z-order/cluster on their hot filter
    keys: stats are only as good as the layout.

    Pruning is conservative (a superset of matching files; the exact
    predicate still runs and pushes into the parquet scan), so value
    equality with the plain full-scan oracle proves no row was
    skipped that shouldn't be. `tests/test_versioned.py` pins the
    other half — that files WERE skipped, and that stats-less
    snapshots fall back to a full scan."""
    _utc(spark)
    from ..sources.versioned import read_version_pruned, write_version

    root = _scratch("orders_skip")
    orders = _t(spark, sf_dir, "orders")
    write_version(
        orders.repartitionByRange(8, "o_orderdate"),
        root,
        stats_columns=("o_orderdate",),
    )
    import datetime as _dt

    pruned, _scanned, _total = read_version_pruned(
        spark,
        root,
        "o_orderdate",
        lower=_dt.datetime(1995, 1, 1),
        upper=_dt.datetime(1996, 1, 1),
    )
    lo, hi = F.lit("1995-01-01").cast("timestamp"), F.lit(
        "1996-01-01"
    ).cast("timestamp")
    return (
        pruned.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy(F.month("o_orderdate").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


@register(
    "holt_linear_trend",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS v
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT user_id, day, v,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM daily),
    rec AS (
      SELECT user_id, day, v, rn,
             v * 1000000 AS l, CAST(0 AS BIGINT) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.day, s.v, s.rn,
             (s.v * 1000000 + 3 * (r.l + r.b)) >> 2,
             (((s.v * 1000000 + 3 * (r.l + r.b)) >> 2) - r.l + 3 * r.b) >> 2
      FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1)
    SELECT user_id, day,
           CAST(v AS BIGINT) AS n_events,
           CAST(l AS BIGINT) AS level_micro,
           CAST(b AS BIGINT) AS trend_micro,
           CAST(l + b AS BIGINT) AS forecast_next_micro
    FROM rec
    """,
    tags=("time-series", "holt", "trend", "integer-exact", "fold"),
)
def q_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over per-user
    daily activity — `ewma_user_activity`'s big sibling: a LEVEL and
    a TREND recurrence (alpha = beta = 1/4), so the model forecasts
    direction, not just a smoothed mean — the standard
    engagement-trajectory / capacity-forecast primitive. Integer
    micro-units throughout: l_t = (1e6·v_t + 3·(l+b)) >> 2,
    b_t = (l_t − l_{t-1} + 3·b) >> 2 — ARITHMETIC right shift is
    floor division on negatives in BOTH engines (trend goes
    negative on declining users; a truncating DIV would diverge
    between engines there, which is exactly why the EWMA's
    DIV-style formulation can't be reused for signed state).

    Same execution shape as the EWMA: the recurrence depends on
    previous OUTPUT, so it folds each user's date-sorted series with
    one JVM-side ``aggregate`` (state = (l, b), bounded by the date
    range) and explodes back; the oracle replays the exact
    recurrence as a recursive CTE. Emits the full smoothed stream
    plus the one-step-ahead forecast l+b per row."""
    _utc(spark)
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("v")
    )
    arr = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("day", "v"))).alias("a")
    )
    folded = arr.select(
        "user_id",
        F.aggregate(
            "a",
            F.expr(
                "CAST(array() AS"
                " array<struct<day:date,v:bigint,l:bigint,b:bigint>>)"
            ),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["v"].alias("v"),
                        F.when(
                            F.size(acc) == 0, x["v"] * F.lit(1_000_000)
                        )
                        .otherwise(
                            F.shiftright(
                                x["v"] * F.lit(1_000_000)
                                + F.lit(3)
                                * (
                                    F.element_at(acc, -1)["l"]
                                    + F.element_at(acc, -1)["b"]
                                ),
                                2,
                            )
                        )
                        .alias("l"),
                        F.when(F.size(acc) == 0, F.lit(0).cast("long"))
                        .otherwise(
                            F.shiftright(
                                F.shiftright(
                                    x["v"] * F.lit(1_000_000)
                                    + F.lit(3)
                                    * (
                                        F.element_at(acc, -1)["l"]
                                        + F.element_at(acc, -1)["b"]
                                    ),
                                    2,
                                )
                                - F.element_at(acc, -1)["l"]
                                + F.lit(3) * F.element_at(acc, -1)["b"],
                                2,
                            )
                        )
                        .alias("b"),
                    )
                ),
            ),
        ).alias("s"),
    )
    return folded.select("user_id", F.explode("s").alias("r")).select(
        "user_id",
        F.col("r.day").alias("day"),
        F.col("r.v").cast("bigint").alias("n_events"),
        F.col("r.l").cast("bigint").alias("level_micro"),
        F.col("r.b").cast("bigint").alias("trend_micro"),
        (F.col("r.l") + F.col("r.b")).cast("bigint").alias("forecast_next_micro"),
    )


@register(
    "delta_change_feed_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             2 + doc_id % 3 AS n0,
             5 + doc_id % 5 AS u,
             doc_id % 100 AS base
      FROM documents),
    f AS (
      SELECT media_id, n0, u, base,
             unnest(generate_series(0, n0 - 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, u, base, i,
             i * 1000 + base AS lo,
             20 + (media_id + i) % 30 AS rows_
      FROM f)
    SELECT media_id,
           CAST(0 AS INTEGER) AS start_version,
           CAST(3 AS INTEGER) AS end_version,
           CAST(4 AS INTEGER) AS commits_read,
           CAST(1 AS INTEGER) AS cdc_commits,
           CAST(2 AS INTEGER) AS derived_commits,
           CAST(1 AS INTEGER) AS skipped_commits,
           CAST(1 AS INTEGER) AS cdc_files_read,
           CAST(sum(rows_) AS BIGINT) AS inserts,
           CAST(sum(rows_ * lo + rows_ * (rows_ - 1) // 2) AS BIGINT)
             AS insert_sum,
           CAST(max(u) AS BIGINT) AS update_pre,
           CAST(max(u) AS BIGINT) AS update_post,
           CAST(max(u * base + u * (u - 1) // 2) AS BIGINT) AS pre_sum,
           CAST(max(u * base + u * (u - 1) // 2 + 7 * u) AS BIGINT)
             AS post_sum,
           CAST(sum(CASE WHEN i = 1 THEN rows_ ELSE 0 END) AS BIGINT)
             AS deletes,
           CAST(sum(CASE WHEN i = 1
                         THEN rows_ * lo + rows_ * (rows_ - 1) // 2
                         ELSE 0 END) AS BIGINT) AS delete_sum,
           CAST(sum(rows_) + 2 * max(u)
                + sum(CASE WHEN i = 1 THEN rows_ ELSE 0 END) AS BIGINT)
             AS change_rows
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "change-data-feed",
          "incremental", "mapInPandas"),
)
def q_delta_change_feed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta Lake CHANGE DATA FEED (round 12 — VERDICT r11 item 1):
    per-commit change rows over a version range, replacing the
    round-11 loud-reject of ``cdc`` actions
    (``functions/delta_log.py:scan_delta_cdf``).  The four-commit
    fixture exercises every CDF path the protocol defines: version 0
    derives INSERTS from ``add`` actions (no cdc written); version 1
    is an UPDATE whose complete change data rides in a
    ``_change_data/`` cdc file with ``_change_type``
    update_preimage/update_postimage rows — the commit's paired
    add/remove rewrite carries ``dataChange=true`` and a reader that
    also derives from it double-counts (oracle-visible); version 2
    derives DELETES by reading the tombstoned file itself (remove
    with ``dataChange=true``, file not yet vacuumed); version 3 is a
    compaction whose actions all carry ``dataChange=false`` and must
    contribute nothing (``skipped_commits = 1`` asserted).  Change
    sums are value-exact per type, so a pre/post swap or an
    off-by-one range is a hash mismatch."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_cdf_scan,
        synthesize_delta_cdf_media,
    )

    media = synthesize_delta_cdf_media(_t(spark, sf_dir, "documents"))
    return extract_delta_cdf_scan(media).select(
        "media_id", "start_version", "end_version", "commits_read",
        "cdc_commits", "derived_commits", "skipped_commits",
        "cdc_files_read", "inserts", "insert_sum", "update_pre",
        "update_post", "pre_sum", "post_sum", "deletes", "delete_sum",
        "change_rows",
    )


@register(
    "iceberg_string_bucket_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id FROM documents),
    f AS (
      SELECT media_id, unnest(generate_series(0, 3)) AS j FROM m),
    r AS (
      SELECT media_id, j, 15 + (media_id + j) % 10 AS rows_ FROM f)
    SELECT media_id,
           CAST(4 AS INTEGER) AS n_data_files,
           CAST(3 AS INTEGER) AS files_pruned_partition,
           CAST(0 AS INTEGER) AS files_pruned_bounds,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN j = 0 THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(1 AS BIGINT) AS probe_matches,
           CAST(max(media_id) % 8 AS INTEGER) AS probe_bucket,
           't' || CAST(max(media_id) % 10 AS VARCHAR) AS probe_prefix
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "lakehouse", "partition-pruning",
          "string-transforms", "mapInPandas"),
)
def q_iceberg_string_bucket_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg bucket/truncate transforms over a STRING partition
    key (round 12 — VERDICT r11 item 2): ``bucket[8]`` hashes the
    key's UTF-8 bytes with murmur3_x86_32 (spec Appendix B, pinned
    by the published ``"iceberg" → 1210000089`` vector) and
    ``truncate[2]`` takes the first two code points
    (``functions/iceberg_scan.py:scan_iceberg_str``).  The fixture's
    four files sit at the (prefix, bucket) cells of a two-field spec
    so NEITHER dimension prunes alone — only the conjunction reaches
    ``files_pruned_partition = 3`` (oracle-asserted, the item's done
    criterion).  ``probe_bucket`` puts the murmur3-over-UTF-8 value
    itself inside the oracle hash, and every scanned row's
    transforms are audited against the manifest's declared partition
    tuple (quarantine on drift)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_str_scan,
        synthesize_iceberg_str_media,
    )

    media = synthesize_iceberg_str_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_str_scan(media).select(
        "media_id", "n_data_files", "files_pruned_partition",
        "files_pruned_bounds", "files_scanned", "rows_scanned",
        "total_rows", "probe_matches", "probe_bucket", "probe_prefix",
    )


@register(
    "orc_nested_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 40 + (doc_id * 7) % 80 AS n
      FROM documents),
    i AS (
      SELECT media_id, n, unnest(generate_series(0, n - 1)) AS i
      FROM m),
    base AS (
      SELECT media_id,
             max(n) AS n,
             sum(CASE WHEN i % 5 = 0 THEN 0
                      ELSE (media_id + i * 3) % 1000 END) AS a_sum,
             sum(CASE WHEN i % 5 = 0 THEN 0 ELSE 1 END) AS a_count,
             sum(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS a_nulls,
             sum(1 + length(CAST((media_id + i) % 13 AS VARCHAR)))
               AS b_bytes,
             sum(CASE WHEN i % 9 = 4 THEN 0
                      ELSE (media_id + i * 7) % 10000 END)
               AS c_cents_sum,
             sum(CASE WHEN i % 9 = 4 THEN 1 ELSE 0 END) AS c_nulls,
             sum((media_id * 3 + i) % 20000) AS d_days_sum,
             sum(1600000000000000
                 + ((media_id * 19 + i * 23) % 1000000000) * 1000)
               AS e_micros_sum,
             sum(CASE WHEN i % 7 = 6 THEN 1 ELSE 0 END) AS list_nulls
      FROM i GROUP BY media_id),
    le AS (
      SELECT media_id, i,
             unnest(generate_series(
               0, (CASE WHEN i % 7 = 6 THEN 0 ELSE i % 4 END) - 1)) AS j
      FROM i),
    lagg AS (
      SELECT media_id,
             count(*) AS list_count,
             sum((media_id + i + j) % 100) AS list_sum
      FROM le GROUP BY media_id),
    me AS (
      SELECT media_id, i,
             unnest(generate_series(0, i % 3 - 1)) AS j
      FROM i),
    magg AS (
      SELECT media_id,
             count(*) AS map_count,
             sum(1 + length(CAST((i + j) % 12 AS VARCHAR)))
               AS map_key_bytes,
             sum((media_id + i * j) % 50) AS map_val_sum
      FROM me GROUP BY media_id)
    SELECT b.media_id,
           CAST(b.n AS BIGINT) AS n_rows,
           CAST(1 AS INTEGER) AS n_stripes,
           CAST(b.media_id % 3 AS INTEGER) AS codec,
           CAST(b.a_sum AS BIGINT) AS a_sum,
           CAST(b.a_count AS BIGINT) AS a_count,
           CAST(b.a_nulls AS BIGINT) AS a_nulls,
           CAST(b.b_bytes AS BIGINT) AS b_bytes,
           CAST(b.n AS BIGINT) AS b_count,
           CAST(b.c_cents_sum AS BIGINT) AS c_cents_sum,
           CAST(b.c_nulls AS BIGINT) AS c_nulls,
           CAST(b.d_days_sum AS BIGINT) AS d_days_sum,
           CAST(b.e_micros_sum AS BIGINT) AS e_micros_sum,
           CAST(b.list_nulls AS BIGINT) AS list_nulls,
           CAST(l.list_count AS BIGINT) AS list_count,
           CAST(l.list_sum AS BIGINT) AS list_sum,
           CAST(g.map_count AS BIGINT) AS map_count,
           CAST(g.map_key_bytes AS BIGINT) AS map_key_bytes,
           CAST(g.map_val_sum AS BIGINT) AS map_val_sum
    FROM base b
    JOIN lagg l ON l.media_id = b.media_id
    JOIN magg g ON g.media_id = b.media_id
    """,
    tags=("sources", "orc", "nested-types", "struct", "list", "map",
          "mapInPandas"),
)
def q_orc_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC NESTED TYPES (round 12 — VERDICT r11 item 3): struct /
    list / map columns decoded by the hand stripe reader
    (``functions/orc_pages.py:scan_orc_nested``), producer-pinned by
    pyarrow's ORC writer with compression rotating
    uncompressed/zlib/snappy by id.  Column ids follow the spec's
    PRE-ORDER type-tree walk; a struct recurses into its children at
    its present-count, LIST/MAP decode an RLEv2 LENGTH stream and
    their children decode at the SUMMED length, and PRESENT streams
    ride on nested children (nullable struct field ``a``, nullable
    list column) — the parent/child row-count bookkeeping is exactly
    what the value-exact sums pin: an off-by-one in any LENGTH or
    PRESENT popcount shifts ``a_sum``/``list_sum``/``map_val_sum``
    and hash-mismatches.  The struct also carries DECIMAL(10,2),
    DATE32, and TIMESTAMP-INSTANT children (unscaled-varint +
    scale-checked SECONDARY; RLEv2 days; seconds-from-2015 DATA +
    scaled-nanos SECONDARY), so the scalar battery's decoders are
    pinned INSIDE the recursion too."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_orc_nested_scan,
        synthesize_orc_nested_media,
    )

    media = synthesize_orc_nested_media(_t(spark, sf_dir, "documents"))
    return extract_orc_nested_scan(media).select(
        "media_id", "n_rows", "n_stripes", "codec", "a_sum", "a_count",
        "a_nulls", "b_bytes", "b_count", "c_cents_sum", "c_nulls",
        "d_days_sum", "e_micros_sum", "list_nulls", "list_count",
        "list_sum", "map_count", "map_key_bytes", "map_val_sum",
    )


@register(
    "iceberg_decimal_transform_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id FROM documents),
    f AS (
      SELECT media_id, unnest(generate_series(0, 3)) AS j FROM m),
    r AS (
      SELECT media_id, j, 10 + (media_id + j) % 6 AS rows_ FROM f)
    SELECT media_id,
           CAST(4 AS INTEGER) AS n_data_files,
           CAST(3 AS INTEGER) AS files_pruned_partition,
           CAST(0 AS INTEGER) AS files_pruned_bounds,
           CAST(1 AS INTEGER) AS files_scanned,
           CAST(sum(CASE WHEN j = 0 THEN rows_ ELSE 0 END) AS BIGINT)
             AS rows_scanned,
           CAST(sum(rows_) AS BIGINT) AS total_rows,
           CAST(1 AS BIGINT) AS probe_matches,
           CAST(max(media_id) % 8 AS INTEGER) AS probe_bucket,
           CAST(500 * (max(media_id) % 10) AS BIGINT) AS probe_window
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "iceberg", "lakehouse", "partition-pruning",
          "decimal-transforms", "mapInPandas"),
)
def q_iceberg_decimal_transform_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg bucket/truncate transforms over a DECIMAL(9,2)
    partition key (round 12, companion to the string scan): both
    transforms apply to the UNSCALED value — ``bucket[8]`` hashes
    its minimal two's-complement big-endian bytes with murmur3 (spec
    Appendix B, pinned by the published ``14.20 → -500754589``
    vector) and ``truncate[500]`` floors in unscaled units (the
    spec's own ``truncate[50](10.65) → 10.50`` example)
    (``functions/iceberg_scan.py:scan_iceberg_dec``).  The data
    column is a pyarrow-real decimal128(9,2); the reader re-derives
    each row's unscaled value, audits it against the manifest's
    declared (window, bucket) cell, and ``probe_bucket`` puts the
    minimal-bytes murmur3 value inside the oracle hash.  Four files
    at the conjunction cells — only both dimensions together reach
    ``files_pruned_partition = 3``."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_iceberg_dec_scan,
        synthesize_iceberg_dec_media,
    )

    media = synthesize_iceberg_dec_media(_t(spark, sf_dir, "documents"))
    return extract_iceberg_dec_scan(media).select(
        "media_id", "n_data_files", "files_pruned_partition",
        "files_pruned_bounds", "files_scanned", "rows_scanned",
        "total_rows", "probe_matches", "probe_bucket", "probe_window",
    )


@register(
    "delta_cdf_column_mapping",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             2 + doc_id % 3 AS n0,
             5 + doc_id % 5 AS u,
             doc_id % 100 AS base
      FROM documents),
    f AS (
      SELECT media_id, n0, u, base,
             unnest(generate_series(0, n0 - 1)) AS i
      FROM m),
    r AS (
      SELECT media_id, u, base, i,
             i * 1000 + base AS lo,
             20 + (media_id + i) % 30 AS rows_
      FROM f)
    SELECT media_id,
           'name' AS mapping_mode,
           CAST(0 AS INTEGER) AS start_version,
           CAST(3 AS INTEGER) AS end_version,
           CAST(4 AS INTEGER) AS commits_read,
           CAST(1 AS INTEGER) AS cdc_commits,
           CAST(2 AS INTEGER) AS derived_commits,
           CAST(1 AS INTEGER) AS skipped_commits,
           CAST(1 AS INTEGER) AS cdc_files_read,
           CAST(sum(rows_) AS BIGINT) AS inserts,
           CAST(sum(rows_ * lo + rows_ * (rows_ - 1) // 2) AS BIGINT)
             AS insert_sum,
           CAST(max(u) AS BIGINT) AS update_pre,
           CAST(max(u) AS BIGINT) AS update_post,
           CAST(max(u * base + u * (u - 1) // 2) AS BIGINT) AS pre_sum,
           CAST(max(u * base + u * (u - 1) // 2 + 7 * u) AS BIGINT)
             AS post_sum,
           CAST(sum(CASE WHEN i = 1 THEN rows_ ELSE 0 END) AS BIGINT)
             AS deletes,
           CAST(sum(CASE WHEN i = 1
                         THEN rows_ * lo + rows_ * (rows_ - 1) // 2
                         ELSE 0 END) AS BIGINT) AS delete_sum,
           CAST(sum(rows_) + 2 * max(u)
                + sum(CASE WHEN i = 1 THEN rows_ ELSE 0 END) AS BIGINT)
             AS change_rows
    FROM r
    GROUP BY media_id
    """,
    tags=("sources", "delta-lake", "lakehouse", "change-data-feed",
          "column-mapping", "composition", "mapInPandas"),
)
def q_delta_cdf_column_mapping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COMPOSED Delta features (round 12): the change data feed on a
    COLUMN-MAPPED (reader v2, name-mode) table
    (``functions/delta_log.py:scan_delta_cdf_cm``).  Every value the
    feed serves — derived inserts from data files, derived deletes
    from the tombstone, and the update pre/postimages inside the
    ``_change_data`` cdc file — must resolve the logical column
    through its physical ``col-<uuid>`` name, while ``_change_type``
    stays unmapped (it is reader metadata, PROTOCOL.md).  The change
    sums are identical to ``delta_change_feed_scan``'s, so a reader
    that resolves any one of the three read paths by logical name
    hash-mismatches; a non-CM-aware CDF scan refuses the table
    outright at the protocol fence (pytest-pinned)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_cdf_cm_scan,
        synthesize_delta_cdf_cm_media,
    )

    media = synthesize_delta_cdf_cm_media(
        _t(spark, sf_dir, "documents")
    )
    return extract_delta_cdf_cm_scan(media).select(
        "media_id", "mapping_mode", "start_version", "end_version",
        "commits_read", "cdc_commits", "derived_commits",
        "skipped_commits", "cdc_files_read", "inserts", "insert_sum",
        "update_pre", "update_post", "pre_sum", "post_sum", "deletes",
        "delete_sum", "change_rows",
    )


@register(
    "iceberg_files_metadata_table",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + doc_id % 10 AS rows0,
             20 + (doc_id + 1) % 10 AS rows1,
             20 + (doc_id + 3) % 10 AS rows3,
             (20 + doc_id % 10 + 2) // 3 AS d0,
             (20 + (doc_id + 1) % 10 + 2) // 4 AS d1,
             doc_id % 40 AS lo
      FROM documents)
    SELECT media_id, file_path,
           CAST(content AS INTEGER) AS content,
           CAST(record_count AS BIGINT) AS record_count,
           CAST(partition_p AS BIGINT) AS partition_p,
           CAST(lower_bound AS BIGINT) AS lower_bound,
           CAST(upper_bound AS BIGINT) AS upper_bound,
           CAST(sequence_number AS BIGINT) AS sequence_number
    FROM (
      SELECT media_id, 'data/f0.parquet' AS file_path, 0 AS content,
             rows0 AS record_count, 0 AS partition_p,
             lo AS lower_bound, lo + rows0 - 1 AS upper_bound,
             1 AS sequence_number
      FROM m
      UNION ALL
      SELECT media_id, 'data/f1.parquet', 0, rows1, 100,
             100 + lo, 100 + lo + rows1 - 1, 1 FROM m
      UNION ALL
      SELECT media_id, 'data/f2.parquet', 0, d0, 0,
             lo, lo + 3 * ((rows0 - 1) // 3), 3 FROM m
      UNION ALL
      SELECT media_id, 'data/f3.parquet', 0, rows3, 300,
             300 + lo, 300 + lo + rows3 - 1, 3 FROM m
      UNION ALL
      SELECT media_id, 'data/eq.parquet', 2, d0 + d1, 0,
             lo, 100 + lo + 1 + 4 * ((rows1 - 2) // 4), 2 FROM m
    )
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "sequence-numbers", "mapInPandas"),
)
def q_iceberg_files_metadata_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg ``files`` METADATA TABLE (round 12): one row per
    live manifest entry — path, content kind, record count,
    partition value, int64 bounds, and the RESOLVED
    data_sequence_number (seq-1 entries inherit from their manifest,
    the delete and seq-3 entries declare explicitly) — served from
    the manifest layer alone
    (``functions/iceberg_scan.py:list_iceberg_files``).  This is the
    ``SELECT * FROM tbl.files`` audit surface: at 100 TB it costs
    manifest bytes, never table bytes, and the row-level oracle pins
    every decoded field (a bounds mixup, a dropped delete entry, or
    an inheritance slip each change specific rows)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_files,
        synthesize_iceberg_seq_media,
    )

    media = synthesize_iceberg_seq_media(_t(spark, sf_dir, "documents"))
    return explode_iceberg_files(media).select(
        "media_id", "file_path", "content", "record_count",
        "partition_p", "lower_bound", "upper_bound", "sequence_number",
    )


_ICEBERG_INSPECT_CTE = """
    WITH m AS (
      SELECT doc_id AS s,
             10 + doc_id % 20 AS r0,
             10 + (doc_id + 3) % 20 AS r1,
             10 + (doc_id + 6) % 20 AS r2,
             10 + (doc_id + 9) % 20 AS r3,
             10 + (doc_id + 12) % 20 AS r4,
             1700000000000 + (doc_id % 1000) * 60000 AS t0
      FROM documents)
"""


@register(
    "iceberg_snapshots_table",
    oracle=_ICEBERG_INSPECT_CTE + """
    SELECT s AS media_id, CAST(11 AS BIGINT) AS snapshot_id,
           CAST(NULL AS BIGINT) AS parent_id,
           CAST(t0 AS BIGINT) AS committed_at_ms,
           'append' AS operation,
           CAST(2 AS BIGINT) AS added_data_files,
           CAST(r0 + r1 AS BIGINT) AS added_records
    FROM m
    UNION ALL
    SELECT s, 22, 11, t0 + 60000, 'append', 2, r2 + r3 FROM m
    UNION ALL
    SELECT s, 33, 22, t0 + 120000, 'overwrite', 1, r4 FROM m
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "mapInPandas"),
)
def q_iceberg_snapshots_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg ``snapshots`` METADATA TABLE (round 13): one row
    per snapshot in the table metadata — commit time, snapshot/parent
    ids, summary operation, and the summary's added-files/added-
    records counters (spec: summary values are strings; decoded with
    a digit fence).  Parent chain, id uniqueness, timestamp
    monotonicity along the chain, and manifest-list presence are all
    fenced (``functions/iceberg_scan.py:iceberg_snapshots_table``).
    Costs metadata-JSON bytes only — the fixture ships NO data
    parquet, so any implementation that touches one fails every
    row."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_snapshots,
        synthesize_iceberg_inspect_media,
    )

    media = synthesize_iceberg_inspect_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_snapshots(media).select(
        "media_id", "snapshot_id", "parent_id", "committed_at_ms",
        "operation", "added_data_files", "added_records",
    )


@register(
    "iceberg_history_table",
    oracle=_ICEBERG_INSPECT_CTE + """
    SELECT s AS media_id, CAST(0 AS INTEGER) AS log_index,
           CAST(t0 AS BIGINT) AS made_current_at_ms,
           CAST(11 AS BIGINT) AS snapshot_id,
           TRUE AS is_current_ancestor
    FROM m
    UNION ALL
    SELECT s, 1, t0 + 60000, 22, TRUE FROM m
    UNION ALL
    SELECT s, 2, t0 + 120000, 33, s % 2 = 0 FROM m
    UNION ALL
    SELECT s, 3, t0 + 180000, 22, TRUE FROM m WHERE s % 2 = 1
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "time-travel", "mapInPandas"),
)
def q_iceberg_history_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg ``history`` METADATA TABLE (round 13): the
    snapshot-log in order with ``is_current_ancestor`` resolved by
    walking parent pointers from the current snapshot.  Odd-seed
    fixtures are ROLLED BACK to snapshot 22, so their log carries a
    4th entry and snapshot 33 — still in the log — is NOT a current
    ancestor: the one column that distinguishes rollback from linear
    history, and the one a naive 'everything in the log is an
    ancestor' reader gets wrong on every odd seed
    (``functions/iceberg_scan.py:iceberg_history_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_history,
        synthesize_iceberg_inspect_media,
    )

    media = synthesize_iceberg_inspect_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_history(media).select(
        "media_id", "log_index", "made_current_at_ms", "snapshot_id",
        "is_current_ancestor",
    )


@register(
    "iceberg_manifests_table",
    oracle=_ICEBERG_INSPECT_CTE + """
    SELECT s AS media_id, manifest_path,
           CAST(0 AS INTEGER) AS partition_spec_id,
           CAST(0 AS INTEGER) AS content,
           CAST(seq AS BIGINT) AS sequence_number,
           CAST(added_snap AS BIGINT) AS added_snapshot_id,
           CAST(a AS INTEGER) AS added_data_files_count,
           CAST(e AS INTEGER) AS existing_data_files_count,
           CAST(d AS INTEGER) AS deleted_data_files_count,
           FALSE AS contains_null,
           CAST(lo AS BIGINT) AS partition_lower,
           CAST(hi AS BIGINT) AS partition_upper
    FROM (
      SELECT s, 'metadata/m1r.avro' AS manifest_path, 3 AS seq,
             33 AS added_snap, 0 AS a, 1 AS e, 1 AS d,
             0 AS lo, 0 AS hi
      FROM m WHERE s % 2 = 0
      UNION ALL
      SELECT s, 'metadata/m3.avro', 3, 33, 1, 0, 0, 100, 100
      FROM m WHERE s % 2 = 0
      UNION ALL
      SELECT s, 'metadata/m1.avro', 1, 11, 2, 0, 0, 0, 100
      FROM m WHERE s % 2 = 1
      UNION ALL
      SELECT s, 'metadata/m2.avro', 2, 22, 2, 0, 0, 0, 200 FROM m
    )
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "mapInPandas"),
)
def q_iceberg_manifests_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg ``manifests`` METADATA TABLE (round 13): one row
    per manifest in the CURRENT snapshot's list — path, spec id,
    content kind, sequence number, adding snapshot, the added/
    existing/deleted entry counts, and the partition field summary
    (contains_null + int64 bounds).  The declared counts are
    CROSS-CHECKED against the manifest's actual entry statuses
    (drift quarantines — a stale list lies through its counts), and
    the even-seed fixture's rewritten manifest ``m1r`` (0 added / 1
    existing / 1 deleted after the overwrite) is exactly the row a
    reader that only counts 'added' misreports
    (``functions/iceberg_scan.py:iceberg_manifests_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_manifests,
        synthesize_iceberg_inspect_media,
    )

    media = synthesize_iceberg_inspect_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_manifests(media).select(
        "media_id", "manifest_path", "partition_spec_id", "content",
        "sequence_number", "added_snapshot_id",
        "added_data_files_count", "existing_data_files_count",
        "deleted_data_files_count", "contains_null",
        "partition_lower", "partition_upper",
    )


@register(
    "iceberg_partitions_table",
    oracle=_ICEBERG_INSPECT_CTE + """
    SELECT s AS media_id, CAST(0 AS BIGINT) AS partition_p,
           CAST(r0 + r2 AS BIGINT) AS record_count,
           CAST(2 AS INTEGER) AS file_count
    FROM m
    UNION ALL
    SELECT s, 100, CASE WHEN s % 2 = 0 THEN r4 ELSE r1 END, 1 FROM m
    UNION ALL
    SELECT s, 200, r3, 1 FROM m
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "mapInPandas"),
)
def q_iceberg_partitions_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg ``partitions`` METADATA TABLE (round 13): live
    rows/files per partition value under the CURRENT snapshot, from
    manifest bytes alone.  Status-2 tombstones are excluded — the
    even-seed overwrite leaves f1's tombstone in partition 100, so a
    reader that counts all entries double-counts that partition on
    every even seed; the rollback (odd seeds) flips partition 100's
    live row count from r4 to r1, pinning that 'current' means the
    current-snapshot-id, not the newest snapshot
    (``functions/iceberg_scan.py:iceberg_partitions_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_partitions,
        synthesize_iceberg_inspect_media,
    )

    media = synthesize_iceberg_inspect_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_partitions(media).select(
        "media_id", "partition_p", "record_count", "file_count",
    )


@register(
    "iceberg_refs_table",
    oracle=_ICEBERG_INSPECT_CTE + """
    SELECT s AS media_id, ref_name, ref_type,
           CAST(snapshot_id AS BIGINT) AS snapshot_id,
           CAST(max_ref_age_ms AS BIGINT) AS max_ref_age_ms,
           CAST(min_keep AS INTEGER) AS min_snapshots_to_keep,
           CAST(NULL AS BIGINT) AS max_snapshot_age_ms,
           CAST(live_files AS INTEGER) AS live_files,
           CAST(live_rows AS BIGINT) AS live_rows
    FROM (
      SELECT s, 'main' AS ref_name, 'branch' AS ref_type,
             CASE WHEN s % 2 = 0 THEN 33 ELSE 22 END AS snapshot_id,
             NULL AS max_ref_age_ms, NULL AS min_keep,
             4 AS live_files,
             CASE WHEN s % 2 = 0 THEN r0 + r2 + r3 + r4
                  ELSE r0 + r1 + r2 + r3 END AS live_rows
      FROM m
      UNION ALL
      SELECT s, 'audit', 'branch', 22, NULL, 1 + s % 3,
             4, r0 + r1 + r2 + r3
      FROM m
      UNION ALL
      SELECT s, 'v1', 'tag', 11, 86400000 * (1 + s % 5), NULL,
             2, r0 + r1
      FROM m
    )
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "branches-tags", "time-travel", "mapInPandas"),
)
def q_iceberg_refs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg ``refs`` METADATA TABLE (round 13) with per-ref
    live totals: one row per named branch/tag — the snapshot it
    pins, retention knobs, and the (files, rows) a read AT that ref
    would plan, resolved through the ref's own manifest list (the
    time-travel-by-NAME surface; `scan_iceberg_time_travel` is the
    by-id twin).  Spec invariants fenced: ``main`` must exist, be a
    branch, and sit at the current snapshot; tags cannot carry
    branch-only retention knobs.  The rollback seeds flip main's
    row count from the overwrite state (r0+r2+r3+r4) to the s2
    state (r0+r1+r2+r3), so a reader that resolves refs through the
    newest snapshot rather than the named one mismatches on every
    odd seed (``functions/iceberg_scan.py:iceberg_refs_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_refs,
        synthesize_iceberg_inspect_media,
    )

    media = synthesize_iceberg_inspect_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_refs(media).select(
        "media_id", "ref_name", "ref_type", "snapshot_id",
        "max_ref_age_ms", "min_snapshots_to_keep",
        "max_snapshot_age_ms", "live_files", "live_rows",
    )


@register(
    "iceberg_all_manifests_table",
    oracle=_ICEBERG_INSPECT_CTE + """
    SELECT s AS media_id,
           CAST(ref_snap AS BIGINT) AS reference_snapshot_id,
           manifest_path,
           CAST(seq AS BIGINT) AS sequence_number,
           CAST(added_snap AS BIGINT) AS added_snapshot_id,
           CAST(a AS INTEGER) AS added_data_files_count,
           CAST(e AS INTEGER) AS existing_data_files_count,
           CAST(d AS INTEGER) AS deleted_data_files_count
    FROM m CROSS JOIN (
      VALUES (11, 'metadata/m1.avro', 1, 11, 2, 0, 0),
             (22, 'metadata/m1.avro', 1, 11, 2, 0, 0),
             (22, 'metadata/m2.avro', 2, 22, 2, 0, 0),
             (33, 'metadata/m1r.avro', 3, 33, 0, 1, 1),
             (33, 'metadata/m2.avro', 2, 22, 2, 0, 0),
             (33, 'metadata/m3.avro', 3, 33, 1, 0, 0)
    ) AS am(ref_snap, manifest_path, seq, added_snap, a, e, d)
    """,
    tags=("sources", "iceberg", "lakehouse", "metadata-table",
          "mapInPandas"),
)
def q_iceberg_all_manifests_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg ``all_manifests`` METADATA TABLE (round 13): one
    row per (snapshot, manifest) across EVERY snapshot in the
    metadata — the view that shows manifest REUSE across commits
    (``m1`` written at s1 appears under s1 AND s2; the s3 overwrite
    rewrote it as ``m1r``).  Unlike the current-snapshot views this
    one is rollback-INVARIANT (both parities list the same 6 rows),
    pinning that ``all_*`` tables cover history, not the current
    pointer.  Declared counts cross-checked against entry statuses
    once per distinct manifest blob
    (``functions/iceberg_scan.py:iceberg_all_manifests_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_all_manifests,
        synthesize_iceberg_inspect_media,
    )

    media = synthesize_iceberg_inspect_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_all_manifests(media).select(
        "media_id", "reference_snapshot_id", "manifest_path",
        "sequence_number", "added_snapshot_id",
        "added_data_files_count", "existing_data_files_count",
        "deleted_data_files_count",
    )


_DELTA_HISTORY_CTE = """
    WITH m AS (
      SELECT doc_id AS s,
             30 + doc_id % 40 AS r0,
             30 + (doc_id + 7) % 40 AS r1,
             30 + (doc_id + 14) % 40 AS r2,
             1700000000000 + (doc_id % 997) * 1000 AS t0
      FROM documents)
"""


@register(
    "delta_history_table",
    oracle=_DELTA_HISTORY_CTE + """
    SELECT s AS media_id, CAST(0 AS BIGINT) AS version,
           CAST(t0 AS BIGINT) AS timestamp_ms,
           'CREATE TABLE AS SELECT' AS operation,
           CAST(2 AS INTEGER) AS num_added_files,
           CAST(0 AS INTEGER) AS num_removed_files,
           CAST(r0 + r1 AS BIGINT) AS num_output_rows
    FROM m
    UNION ALL
    SELECT s, 1, t0 + 60000, 'WRITE', 1, 0, r2 FROM m
    UNION ALL
    SELECT s, 2, t0 + 120000, 'DELETE', 0, 1, r0 FROM m
    UNION ALL
    SELECT s, 3, t0 + 180000, 'OPTIMIZE', 1, 2, NULL
    FROM m WHERE s % 2 = 1
    """,
    tags=("sources", "delta-lake", "lakehouse", "metadata-table",
          "table-ops", "mapInPandas"),
)
def q_delta_history_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ``DESCRIBE HISTORY`` (round 13): one row per commit —
    version, commit timestamp, operation, operationMetrics counters
    (protocol-serialized as STRINGS, decoded with a digit fence) —
    with the metrics CROSS-CHECKED against the commit's actual
    add/remove actions, so a commitInfo that lies about its file
    counts loud-rejects instead of misreporting table ops.  The
    Delta twin of `iceberg_history_table`
    (``functions/delta_log.py:delta_history_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_delta_history,
        synthesize_delta_history_media,
    )

    media = synthesize_delta_history_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_delta_history(media).select(
        "media_id", "version", "timestamp_ms", "operation",
        "num_added_files", "num_removed_files", "num_output_rows",
    )


@register(
    "delta_vacuum_candidates",
    oracle=_DELTA_HISTORY_CTE + """
    SELECT s AS media_id, path,
           CAST(dts AS BIGINT) AS deletion_timestamp_ms, eligible
    FROM (
      SELECT s, 'part-00000.parquet' AS path, t0 + 120000 AS dts,
             TRUE AS eligible
      FROM m
      UNION ALL
      SELECT s, 'part-00001.parquet', t0 + 180000, FALSE
      FROM m WHERE s % 2 = 1
      UNION ALL
      SELECT s, 'part-00002.parquet', t0 + 180000, FALSE
      FROM m WHERE s % 2 = 1
    )
    """,
    tags=("sources", "delta-lake", "lakehouse", "table-ops",
          "vacuum", "mapInPandas"),
)
def q_delta_vacuum_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta ``VACUUM DRY RUN`` (round 13): every tombstoned file
    with its deletionTimestamp and whether it has aged past the
    table's ``delta.deletedFileRetentionDuration`` at the declared
    probe instant.  The DELETE tombstone (aged 150 s past a
    retention-relative horizon of 150 s) is eligible; the OPTIMIZE
    tombstones (180 s) are NOT — so an implementation that compares
    with ``<`` instead of ``<=``, or vacuums by file age instead of
    deletionTimestamp, flips rows.  A tombstone whose path is still
    LIVE in the replayed state loud-rejects: vacuuming it would
    corrupt the table, the one mistake this view must never make
    (``functions/delta_log.py:delta_vacuum_candidates``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_delta_vacuum,
        synthesize_delta_history_media,
    )

    media = synthesize_delta_history_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_delta_vacuum(media).select(
        "media_id", "path", "deletion_timestamp_ms", "eligible",
    )


@register(
    "iceberg_expire_snapshots_dry_run",
    oracle="""
    WITH m AS (SELECT doc_id AS s FROM documents)
    SELECT s AS media_id, CAST(sid AS BIGINT) AS snapshot_id,
           removable, kept_reason,
           CAST(orphaned AS INTEGER) AS orphaned_manifests
    FROM (
      SELECT s, 10 AS sid, TRUE AS removable, '' AS kept_reason,
             1 AS orphaned
      FROM m
      UNION ALL
      SELECT s, 20, s % 2 = 1,
             CASE WHEN s % 2 = 0 THEN 'ref' ELSE '' END,
             CASE WHEN s % 2 = 1 THEN 1 ELSE 0 END
      FROM m
      UNION ALL
      SELECT s, 30, s % 3 <> 2,
             CASE WHEN s % 3 = 2 THEN 'ancestor' ELSE '' END,
             CASE WHEN s % 3 <> 2 THEN 1 ELSE 0 END
      FROM m
      UNION ALL
      SELECT s, 40, s % 3 = 0,
             CASE WHEN s % 3 <> 0 THEN 'ancestor' ELSE '' END,
             CASE WHEN s % 3 = 0 THEN 1 ELSE 0 END
      FROM m
      UNION ALL
      SELECT s, 50, FALSE, 'recent', 0 FROM m
    )
    """,
    tags=("sources", "iceberg", "lakehouse", "table-ops",
          "snapshot-expiration", "mapInPandas"),
)
def q_iceberg_expire_snapshots_dry_run(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg ``expire_snapshots`` DRY RUN (round 13): per-snapshot
    GC disposition over a 5-snapshot chain whose refs pin only a
    subset — kept by ref (a tag on even seeds), kept as a branch
    ancestor (``min-snapshots-to-keep`` rotating 1..3), kept by the
    recency floor, or REMOVABLE with the manifests only it reaches
    counted as orphans.  This is the reachability computation
    metadata GC runs at 100 TB: manifests shared with any kept
    snapshot (m_base here) must NEVER count as orphaned — an
    implementation that unions per-snapshot listings without the
    kept-set subtraction deletes live data
    (``functions/iceberg_scan.py:iceberg_expire_snapshots_plan``)."""
    _utc(spark)
    from ..operators.multimodal import (
        explode_iceberg_expire,
        synthesize_iceberg_expire_media,
    )

    media = synthesize_iceberg_expire_media(
        _t(spark, sf_dir, "documents")
    )
    return explode_iceberg_expire(media).select(
        "media_id", "snapshot_id", "removable", "kept_reason",
        "orphaned_manifests",
    )


_ICEBERG_FILES_LIVE_CTE = """
    WITH m AS (
      SELECT doc_id AS media_id,
             20 + doc_id % 10 AS rows0,
             20 + (doc_id + 1) % 10 AS rows1,
             20 + (doc_id + 3) % 10 AS rows3,
             (20 + doc_id % 10 + 2) // 3 AS d0
      FROM documents),
    inv AS (
      SELECT media_id, 'data/f0.parquet' AS file_path,
             CAST(rows0 AS BIGINT) AS record_count FROM m
      UNION ALL
      SELECT media_id, 'data/f1.parquet', rows1 FROM m
      UNION ALL
      SELECT media_id, 'data/f2.parquet', d0 FROM m
      UNION ALL
      SELECT media_id, 'data/f3.parquet', rows3 FROM m)
"""


@register(
    "optimize_compaction_plan",
    oracle=_ICEBERG_FILES_LIVE_CTE + """
    , g AS (
      SELECT media_id, file_path, record_count,
             CAST(floor((sum(record_count) OVER (
                    PARTITION BY media_id ORDER BY file_path
                    ROWS UNBOUNDED PRECEDING) - record_count) / 45.0)
                  AS INTEGER) AS group_id
      FROM inv)
    SELECT media_id, file_path, record_count, group_id,
           CAST(count(*) OVER (PARTITION BY media_id, group_id)
                AS INTEGER) AS group_files,
           CAST(sum(record_count) OVER (PARTITION BY media_id, group_id)
                AS BIGINT) AS group_rows,
           count(*) OVER (PARTITION BY media_id, group_id) > 1
             AS needs_compaction
    FROM g
    """,
    tags=("maintenance", "optimize", "bin-packing", "window",
          "iceberg", "lakehouse"),
)
def q_optimize_compaction_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE planning as a DISTRIBUTED computation (round 13):
    the live-file inventory from the Iceberg ``files`` metadata
    table (content=0 only — compacting a delete file corrupts the
    table) is sequential-bin-packed into ~45-row groups with a
    window PARTITIONED BY TABLE: running-sum the weights in
    deterministic path order, ``group_id = floor((running - w) /
    target)``.  No global sort, no driver loop — 10^6 tables plan in
    parallel, which is the property that lets a 100 TB lakehouse run
    maintenance planning as a regular query
    (``operators/maintenance.py:plan_compaction``)."""
    _utc(spark)
    from ..operators.maintenance import plan_compaction
    from ..operators.multimodal import (
        explode_iceberg_files,
        synthesize_iceberg_seq_media,
    )

    media = synthesize_iceberg_seq_media(_t(spark, sf_dir, "documents"))
    inventory = explode_iceberg_files(media).filter(
        F.col("content") == 0
    ).select("media_id", "file_path", "record_count")
    return plan_compaction(inventory, target_rows=45).select(
        "media_id", "file_path", "record_count", "group_id",
        "group_files", "group_rows", "needs_compaction",
    )


@register(
    "table_fragmentation_report",
    oracle=_ICEBERG_FILES_LIVE_CTE + """
    SELECT media_id,
           CAST(4 AS INTEGER) AS n_files,
           CAST(rows0 + rows1 + d0 + rows3 AS BIGINT) AS total_rows,
           CAST(CASE WHEN rows0 < 22.5 THEN 1 ELSE 0 END
                + CASE WHEN rows1 < 22.5 THEN 1 ELSE 0 END
                + CASE WHEN d0 < 22.5 THEN 1 ELSE 0 END
                + CASE WHEN rows3 < 22.5 THEN 1 ELSE 0 END
                AS INTEGER) AS small_files,
           CAST(ceil((rows0 + rows1 + d0 + rows3) / 45.0) AS INTEGER)
             AS files_after_optimize
    FROM m
    """,
    tags=("maintenance", "optimize", "fragmentation", "iceberg",
          "lakehouse"),
)
def q_table_fragmentation_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-table FRAGMENTATION summary (round 13): file count, total
    rows, sub-half-target "small files", and the file count OPTIMIZE
    would leave (``ceil(total/target)``) — the ranking a maintenance
    scheduler uses to pick which of 10^6 tables to compact first.
    One groupBy on the table key over the metadata-only inventory;
    at 100 TB this prices the whole fleet's maintenance backlog
    without reading a data byte
    (``operators/maintenance.py:fragmentation_report``)."""
    _utc(spark)
    from ..operators.maintenance import fragmentation_report
    from ..operators.multimodal import (
        explode_iceberg_files,
        synthesize_iceberg_seq_media,
    )

    media = synthesize_iceberg_seq_media(_t(spark, sf_dir, "documents"))
    inventory = explode_iceberg_files(media).filter(
        F.col("content") == 0
    ).select("media_id", "file_path", "record_count")
    return fragmentation_report(inventory, target_rows=45).select(
        "media_id", "n_files", "total_rows", "small_files",
        "files_after_optimize",
    )


def _zorder_oracle() -> str:
    """DuckDB twin of zorder_key(2 cols, 8 bits): generated
    term-for-term so the interleave is pinned bit by bit."""
    terms = []
    for j in range(8):
        terms.append(f"(((x >> {j}) & 1) << {2 * j})")
        terms.append(f"(((y >> {j}) & 1) << {2 * j + 1})")
    z = " + ".join(terms)
    return f"""
    WITH q AS (
      SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
      FROM lineitem),
    zd AS (
      SELECT x, y, ({z}) AS z FROM q),
    b AS (
      SELECT x, y, z // 256 AS z_bucket FROM zd)
    SELECT CAST(z_bucket AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(x) AS BIGINT) AS min_x,
           CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y,
           CAST(max(y) AS BIGINT) AS max_y,
           CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1)
                AS BIGINT) AS span_product
    FROM b
    GROUP BY z_bucket
    """


@register(
    "zorder_clustering",
    oracle=_zorder_oracle(),
    tags=("maintenance", "zorder", "data-layout", "clustering",
          "bit-interleave"),
)
def q_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY as engine arithmetic (round 13): interleave
    the low 8 bits of two lineitem key columns into a 16-bit
    space-filling-curve value (bit j of column i at position 2j+i —
    pinned term-for-term by the oracle), assign FIXED-WIDTH buckets
    by ``z >> 8`` (no global sort, no partition-less window — one
    map + one groupBy at any scale), and profile each bucket's
    per-dimension min/max span.  The ``span_product`` column IS the
    data-skipping story: z-order buckets bound BOTH dimensions
    (~16x16 spans), where a linear sort's buckets would bound only
    the leading key and span the full 256 on the other
    (``operators/maintenance.py:zorder_key``)."""
    _utc(spark)
    from ..operators.maintenance import zorder_bucket_profile

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).cast("long").alias("x"),
        (F.col("l_suppkey") % 256).cast("long").alias("y"),
    )
    prof = zorder_bucket_profile(li, ["x", "y"], bits=8, bucket_shift=8)
    return prof.select(
        F.col("z_bucket").cast("long").alias("z_bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("min_x").cast("long").alias("min_x"),
        F.col("max_x").cast("long").alias("max_x"),
        F.col("min_y").cast("long").alias("min_y"),
        F.col("max_y").cast("long").alias("max_y"),
        F.col("span_product").cast("long").alias("span_product"),
    )


@register(
    "delta_describe_detail",
    oracle=_DELTA_HISTORY_CTE + """
    SELECT s AS media_id,
           CAST(CASE WHEN s % 2 = 0 THEN 2 ELSE 1 END AS INTEGER)
             AS num_files,
           CAST(r1 + r2 AS BIGINT) AS num_records,
           CAST(1 AS INTEGER) AS min_reader_version,
           CAST(2 AS INTEGER) AS min_writer_version,
           CAST(0 AS INTEGER) AS n_partition_columns,
           CAST(2 AS INTEGER) AS n_properties
    FROM m
    """,
    tags=("sources", "delta-lake", "lakehouse", "metadata-table",
          "table-ops", "mapInPandas"),
)
def q_delta_describe_detail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta ``DESCRIBE DETAIL`` (round 13): the one-row table
    summary — live files, live rows (stats-derived, never a data
    read), protocol versions, partition/property counts — from the
    same add/remove replay the scan uses.  The OPTIMIZE seeds pin
    the tombstone arithmetic: after compaction the table is 1 file
    carrying the SAME r1+r2 rows the even seeds hold in 2 files, so
    a replay that misses OPTIMIZE's dataChange=false removes reports
    3 phantom files (``functions/delta_log.py:delta_detail_table``)."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_delta_detail,
        synthesize_delta_history_media,
    )

    media = synthesize_delta_history_media(
        _t(spark, sf_dir, "documents")
    )
    return extract_delta_detail(media).select(
        "media_id", "num_files", "num_records", "min_reader_version",
        "min_writer_version", "n_partition_columns", "n_properties",
    )


@register(
    "stream_windowed_counts",
    oracle="""
    WITH src AS (
      SELECT ts, event_type, event_id FROM events),
    mx AS (
      SELECT epoch_us(max(ts)) // 1000 - 600000 AS wm_ms FROM src),
    w AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             count(*) AS n_events, sum(event_id) AS id_sum
      FROM src GROUP BY 1, 2)
    SELECT hour_start,
           event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(id_sum AS BIGINT) AS id_sum
    FROM w, mx
    WHERE epoch_ms(hour_start + INTERVAL 1 HOUR) <= wm_ms
    """,
    tags=("streaming", "watermark", "window", "availableNow",
          "event-time"),
)
def q_stream_windowed_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STRUCTURED STREAMING in the oracle gate (round 13): the
    events table replayed through a REAL streaming query —
    ``readStream`` over a parquet landing dir, a 10-minute event-time
    watermark, 1-hour tumbling-window counts + id-checksums, append
    mode to a parquet sink, ``Trigger.AvailableNow`` — then the sink
    read back as the result.  Append mode only emits windows the
    FINAL watermark (max event time minus delay, ms precision) has
    closed; the trailing window(s) stay in state and must be absent,
    which is exactly what the oracle's ``hour_end <= max_ts - 10min``
    filter recomputes.  The single-file landing dir makes the replay
    one deterministic micro-batch, so late-data drops cannot vary by
    partitioning — the determinism condition a production
    availableNow backfill relies on.  Engine surface:
    ``streaming/`` (watermark dedup, stateful sessionization, stream
    joins) is pytest-pinned; this entry puts the watermark+window
    semantics under the DuckDB oracle too."""
    import tempfile

    from pyspark.sql import types as T

    _utc(spark)
    root = tempfile.mkdtemp(prefix="dw_stream_wc_")
    src_dir = f"{root}/src"
    out_dir = f"{root}/out"
    cp_dir = f"{root}/cp"
    events = _t(spark, sf_dir, "events").select(
        "ts", "event_type", "event_id"
    )
    # ONE landing file -> one micro-batch -> deterministic watermark
    events.coalesce(1).write.mode("overwrite").parquet(src_dir)
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ])
    stream = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        F.col("window.start").alias("hour_start"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("id_sum").cast("long").alias("id_sum"),
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id FROM events),
    mx AS (
      SELECT (epoch_us(max(ts)) // 1000 - 600000) * 1000 AS wm_us
      FROM src),
    o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                     > 300000000
                  THEN 1 ELSE 0 END AS brk
      FROM src
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts, event_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM o),
    agg AS (
      SELECT user_id, sess,
             min(ts) AS session_start,
             max(epoch_us(ts)) + 300000000 AS end_us,
             count(*) AS n_events,
             sum(event_id) AS id_sum
      FROM s GROUP BY 1, 2)
    SELECT user_id, session_start,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(id_sum AS BIGINT) AS id_sum
    FROM agg, mx
    WHERE end_us <= wm_us
    """,
    tags=("streaming", "watermark", "session-window", "availableNow",
          "event-time", "stateful"),
)
def q_stream_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING SESSION WINDOWS under the oracle (round 13):
    per-user 5-minute-gap sessions over the events table through a
    real ``session_window`` streaming aggregation (merging state),
    append mode, availableNow.  Two boundary semantics are
    EMPIRICALLY pinned (pytest `test_stream_semantics.py`) and
    recomputed by the oracle's lag/cumsum sessionization: an event
    at EXACTLY gap distance MERGES (break is ``gap > 300s`` strict),
    and a session whose end equals the final watermark EMITS
    (eviction is ``end <= wm``, ms-truncated).  The oracle builds
    sessions the classic SQL way (lag -> break flags -> cumulative
    session ids -> group), so the two independent formulations must
    agree row-for-row on thousands of sessions."""
    import tempfile

    from pyspark.sql import types as T

    _utc(spark)
    root = tempfile.mkdtemp(prefix="dw_stream_sw_")
    src_dir = f"{root}/src"
    out_dir = f"{root}/out"
    cp_dir = f"{root}/cp"
    events = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    events.coalesce(1).write.mode("overwrite").parquet(src_dir)
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
    ])
    stream = (
        spark.readStream.schema(schema).parquet(src_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        )
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("id_sum").cast("long").alias("id_sum"),
    )


@register(
    "delta_native_roundtrip",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_partkey % 7 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "roundtrip"),
)
def q_delta_native_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta write -> read roundtrip (round 13): the part
    table committed through the engine's own Delta writer
    (``sources/delta_native.py``) in TWO appends (even keys at v0,
    odd at v1 — a real multi-commit log with per-file footer stats),
    then read back through the native log-replay reader with a
    filter that must reach the parquet scan as a pushed predicate
    (the reader is a schema-pinned file scan below the log layer, so
    Catalyst prunes untouched).  The oracle reads the SOURCE table:
    any file lost by the commit, double-added by the replay, or
    dropped by the rename step changes the row set."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import read_delta, write_delta

    root = tempfile.mkdtemp(prefix="dw_delta_nat_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
    )
    write_delta(part.filter("p_partkey % 2 = 0"), root,
                mode="append", now_ms=1_700_000_000_000)
    write_delta(part.filter("p_partkey % 2 = 1"), root,
                mode="append", now_ms=1_700_000_060_000)
    return read_delta(spark, root).filter("p_partkey % 7 = 0").select(
        "p_partkey", "name_len",
    )


@register(
    "delta_native_time_travel",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_partkey % 2 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "time-travel"),
)
def q_delta_native_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta TIME TRAVEL (round 13): v0 holds the even part
    keys, v1 OVERWRITES with the odd ones (remove tombstones for
    every v0 file) — reading ``version=0`` must reproduce the even
    set exactly, which fails two ways a naive reader breaks: replay
    that applies v1's tombstones retroactively (empty result) or a
    directory listing instead of a log replay (both versions'
    files).  Writer and reader are both this engine's
    (``sources/delta_native.py``) — the committed log is also
    pytest-pinned against the forensics readers' expectations."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import read_delta, write_delta

    root = tempfile.mkdtemp(prefix="dw_delta_tt_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
    )
    write_delta(part.filter("p_partkey % 2 = 0"), root,
                mode="append", now_ms=1_700_000_000_000)
    write_delta(part.filter("p_partkey % 2 = 1"), root,
                mode="overwrite", now_ms=1_700_000_060_000)
    return read_delta(spark, root, version=0).select(
        "p_partkey", "name_len",
    )


@register(
    "iceberg_native_roundtrip",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_partkey % 5 = 0
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "roundtrip"),
)
def q_iceberg_native_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Iceberg v2 write -> read roundtrip (round 13): the
    part table committed through the engine's own Iceberg writer
    (``sources/iceberg_native.py``) in TWO appends — real avro
    manifests + manifest lists + versioned metadata JSON +
    version-hint, the standard directory layout — then read back
    through the native manifest-walk reader with a pushed filter.
    The second append's manifest LIST must carry the first's
    manifest forward (the spec's incremental-commit shape); a writer
    that rebuilds from the directory listing or a reader that only
    walks the newest manifest both change the row set against the
    source-table oracle."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import read_iceberg, write_iceberg

    root = tempfile.mkdtemp(prefix="dw_ice_nat_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
    )
    write_iceberg(part.filter("p_partkey % 2 = 0"), root,
                  mode="append", now_ms=1_700_000_000_000)
    write_iceberg(part.filter("p_partkey % 2 = 1"), root,
                  mode="append", now_ms=1_700_000_060_000)
    return read_iceberg(spark, root).filter("p_partkey % 5 = 0").select(
        "p_partkey", "name_len",
    )


@register(
    "iceberg_native_time_travel",
    oracle="""
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_partkey % 2 = 0
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "time-travel"),
)
def q_iceberg_native_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Iceberg TIME TRAVEL (round 13): snapshot 1 holds the
    even part keys, snapshot 2 OVERWRITES with the odd ones (a fresh
    manifest list — prior snapshots keep their own, the spec's
    snapshot isolation, no tombstones needed).  Reading the FIRST
    snapshot id must reproduce the even set: a reader that resolves
    through current-snapshot-id regardless of the requested id, or a
    writer whose overwrite mutates the old manifest list in place,
    both break against the oracle
    (``sources/iceberg_native.py``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import read_iceberg, write_iceberg

    root = tempfile.mkdtemp(prefix="dw_ice_tt_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
    )
    s0 = write_iceberg(part.filter("p_partkey % 2 = 0"), root,
                       mode="append", now_ms=1_700_000_000_000)
    write_iceberg(part.filter("p_partkey % 2 = 1"), root,
                  mode="overwrite", now_ms=1_700_000_060_000)
    return read_iceberg(spark, root, snapshot_id=s0).select(
        "p_partkey", "name_len",
    )


@register(
    "delta_native_partition_pruning",
    oracle="""
    SELECT CAST(p_partkey % 8 AS BIGINT) AS pb, p_partkey,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_partkey % 8 = 3
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "partition-pruning"),
)
def q_delta_native_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta PARTITIONED write + LOG-LEVEL pruning
    (round 13): the part table committed Hive-partitioned on
    ``pb = p_partkey % 8`` (every add action records its
    ``partitionValues``), then read with ``where={'pb': 3}`` — the
    reader drops the other 7 partitions' files AT THE LOG LAYER,
    before any listing or footer I/O, which is the property that
    makes a partitioned 100 TB table readable at all.  A typo'd
    partition key loud-rejects instead of silently full-scanning
    (pytest-pinned).  Partition column values come back through the
    Hive directory layout (``basePath``), so the oracle's
    recomputed ``pb`` must agree with the directory-derived one
    (``sources/delta_native.py``)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import read_delta, write_delta

    root = tempfile.mkdtemp(prefix="dw_delta_pp_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 8).alias("pb"),
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
    )
    write_delta(part, root, now_ms=1_700_000_000_000,
                partition_by=["pb"])
    return read_delta(spark, root, where={"pb": 3}).select(
        "pb", "p_partkey", "name_len",
    )


@register(
    "delta_native_merge",
    oracle="""
    SELECT p_partkey AS k,
           CAST(-length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER)
    FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 10 <> 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) + 1000 AS INTEGER)
    FROM part WHERE p_partkey % 2 = 1 AND p_partkey % 7 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "merge", "upsert", "copy-on-write"),
)
def q_delta_native_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE Delta MERGE (round 13): UPSERT into a multi-file
    table through the engine's copy-on-write merge
    (``sources/delta_native.py:merge_delta``) — update rows flip the
    sign of matched evens divisible by 10, insert rows add odd
    multiples of 7.  Planning is EXACT per file: a broadcast join of
    the update keys against the per-file stats windows picks only
    files actually containing a matched key (insert-only keys extend
    the global range but rewrite NOTHING — the trap a min/max
    overlap planner falls into, pytest-pinned via rewrite metrics).
    Untouched evens must come through byte-identical from their
    original files; the oracle recomputes all three row classes."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        merge_delta,
        read_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_mrg_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_700_000_000_000,
    )
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    ).unionByName(
        part.filter("p_partkey % 2 = 1 AND p_partkey % 7 = 0").select(
            F.col("p_partkey").alias("k"),
            (F.length("p_name") + 1000).cast("int").alias("v"),
        )
    )
    merge_delta(root, updates, "k", now_ms=1_700_000_060_000)
    return read_delta(spark, root).select("k", "v")


@register(
    "delta_native_optimize",
    oracle="""
    SELECT p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 2 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "optimize", "compaction", "maintenance"),
)
def q_delta_native_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta OPTIMIZE (round 13): a deliberately fragmented
    table (16 tiny files) compacted through the engine's own
    small-file rewrite (``sources/delta_native.py:optimize_delta``,
    the execution of ``operators/maintenance.py:plan_compaction``'s
    packing rule) with ``dataChange=false`` on every remove/add —
    the flag that keeps CDF/incremental readers from replaying a
    compaction as data.  The oracle is the SOURCE rows: OPTIMIZE
    must be row-invariant, so a lost file, a double-packed group, or
    a rewrite that dropped late rows all hash-mismatch; the
    file-count collapse itself is pytest-pinned."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        optimize_delta,
        read_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_opt_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(base.repartition(16), root, now_ms=1_700_000_000_000)
    optimize_delta(root, target_rows=400, now_ms=1_700_000_060_000)
    return read_delta(spark, root).select("k", "v")


@register(
    "delta_native_delete_vacuum",
    oracle="""
    SELECT p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 2 = 0
      AND p_partkey NOT BETWEEN 200 AND 599
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "delete", "vacuum", "copy-on-write"),
)
def q_delta_native_delete_vacuum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta range DELETE + executed VACUUM (round 13):
    ``DELETE WHERE k BETWEEN 200 AND 599`` rewrites only the files
    whose stats window overlaps the range (a rewrite that comes back
    empty is a pure remove — no zero-row file is committed), then
    VACUUM physically deletes the aged tombstones and the read must
    be unaffected — the files the latest version needs are never
    eligible.  Old-version reads failing loudly AFTER vacuum is the
    retention contract and is pytest-pinned
    (``sources/delta_native.py:delete_delta`` / ``vacuum_delta``)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        delete_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_del_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_700_000_000_000,
    )
    delete_delta(root, "k", 200, 599, now_ms=1_700_000_060_000)
    vacuum_delta(root, retention_hours=0,
                 now_ms=1_700_010_000_000, dry_run=False)
    return read_delta(spark, root).select("k", "v")


@register(
    "delta_native_partitioned_merge",
    oracle="""
    WITH src AS (
      SELECT p_partkey % 4 AS pb, p_partkey,
             CAST(length(p_name) AS INTEGER) AS v
      FROM part)
    SELECT CAST(pb AS BIGINT) AS pb, p_partkey AS k,
           CAST(CASE WHEN pb = 0 AND p_partkey % 10 = 0
                     THEN -v ELSE v END AS INTEGER) AS v
    FROM src
    UNION ALL
    SELECT CAST(9 AS BIGINT), p_partkey,
           CAST(v + 1000 AS INTEGER)
    FROM src WHERE p_partkey % 97 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "merge", "partitioned", "copy-on-write"),
)
def q_delta_native_partitioned_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta MERGE into a PARTITIONED table (round 14 —
    VERDICT r13 item 2): the part table Hive-partitioned on ``pb =
    p_partkey % 4``; the merge updates keys in pb=0 ONLY (sign-flip
    on multiples of 10) and inserts rows into a brand-new partition
    pb=9.  Candidate routing is partitionValues FIRST, then the
    per-file key-stats window — every partition shares the same key
    universe, so a planner that ignored partitions would rewrite all
    four; ours must rewrite only pb=0's matched files (the untouched-
    partitions invariant is pytest-pinned via the commit's remove
    paths).  The ON predicate on a partitioned table is (partition
    cols + key) — the date-partitioned-upsert shape
    (``sources/delta_native.py:merge_delta``)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        merge_delta,
        read_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_pmrg_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.select(
        (F.col("p_partkey") % 4).alias("pb"),
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(base, root, now_ms=1_700_000_000_000,
                partition_by=["pb"])
    updates = part.filter(
        "p_partkey % 4 = 0 AND p_partkey % 10 = 0"
    ).select(
        F.lit(0).cast("long").alias("pb"),
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    ).unionByName(part.filter("p_partkey % 97 = 0").select(
        F.lit(9).cast("long").alias("pb"),
        F.col("p_partkey").alias("k"),
        (F.length("p_name") + 1000).cast("int").alias("v"),
    ))
    merge_delta(root, updates, "k", now_ms=1_700_000_060_000)
    return read_delta(spark, root).select("pb", "k", "v")


@register(
    "delta_native_partitioned_retention",
    oracle="""
    SELECT CAST(p_partkey % 8 AS BIGINT) AS pb, p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 8 NOT BETWEEN 2 AND 4
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "delete", "partition-drop", "vacuum", "retention"),
)
def q_delta_native_partitioned_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta PARTITION-DROP retention delete + executed
    VACUUM (round 14 — VERDICT r13 item 2): ``DELETE WHERE pb
    BETWEEN 2 AND 4`` on a table partitioned BY pb is a pure
    LOG-LEVEL operation — whole partitions are tombstoned with ZERO
    rewrite (files_added = 0, pytest-pinned), exactly how a
    date-partitioned 100 TB table expires old days.  VACUUM then
    physically deletes the aged tombstones; the surviving partitions
    must read back byte-exact, which the oracle pins
    (``sources/delta_native.py:delete_delta`` partition path)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        delete_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_pret_") + "/tbl"
    base = _t(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 8).alias("pb"),
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(base, root, now_ms=1_700_000_000_000,
                partition_by=["pb"])
    d = delete_delta(root, "pb", 2, 4, now_ms=1_700_000_060_000)
    if d["files_added"] != 0:
        raise ValueError("partition drop rewrote files")
    vacuum_delta(root, retention_hours=0,
                 now_ms=1_700_010_000_000, dry_run=False)
    return read_delta(spark, root).select("pb", "k", "v")


@register(
    "delta_native_checkpoint_replay",
    oracle="""
    SELECT p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 21 < 12
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "checkpoint", "time-travel"),
)
def q_delta_native_checkpoint_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta CHECKPOINT replay (round 14 — VERDICT r13 item
    3): a 22-commit log — residues 0..20 of ``p_partkey % 21``
    appended one commit each with ``checkpoint_every=10`` (classic
    checkpoints land at v10 and v20; v20's supersedes and deletes
    v10's), then an OVERWRITE commit at v21 that keeps only residues
    0..11 (tombstoning every prior file).  The final read must
    replay v20's checkpoint parquet (every live add materialized
    one-per-row) plus ONLY the v21 JSON tail: starting from v0
    instead, double-applying the checkpointed adds, or missing v21's
    tombstones all change the row set the oracle recomputes.  Time
    travel below the checkpoint and the forensics-reader cross-check
    are pytest-pinned (``sources/delta_native.py:checkpoint_delta``,
    ``tests/test_delta_native.py``)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        read_delta,
        write_delta,
        write_delta_split,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_cp_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    # one staged write -> 21 commits (r14: the per-residue
    # write_delta loop paid 21 scan+write Spark jobs of fixed
    # overhead; the log shape — one append per residue, classic
    # checkpoints at v10/v20 — is unchanged)
    write_delta_split(
        part.withColumn("r", F.col("k") % 21), root, "r",
        values=list(range(21)),
        now_ms=1_700_000_000_000,
        checkpoint_every=10,
    )
    keep = read_delta(spark, root).filter("k % 21 < 12")
    write_delta(keep, root, mode="overwrite",
                now_ms=1_700_000_100_000, checkpoint_every=10)
    return read_delta(spark, root).select("k", "v")


@register(
    "iceberg_native_partition_pruning",
    oracle="""
    SELECT CAST(p_partkey % 8 AS BIGINT) AS pb, p_partkey,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    WHERE p_partkey % 8 = 5
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "partition-pruning", "identity-transform"),
)
def q_iceberg_native_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Iceberg IDENTITY-PARTITIONED write + manifest-layer
    pruning (round 14 — VERDICT r13 item 5, mirroring
    ``delta_native_partition_pruning``): the part table committed
    with an identity transform on ``pb = p_partkey % 8`` — every
    manifest entry carries the TYPED partition struct (field-id 102,
    long-typed value, not a string) — then read with
    ``where={'pb': 5}``: the other 7 partitions' files are dropped
    while walking the manifests, before any listing or footer I/O
    (the ``inputFiles()`` assertion is pytest-pinned).  A typo'd
    partition field loud-rejects instead of silently full-scanning.
    Partition column values come back through the Hive layout under
    ``data/`` (``basePath``), so the oracle's recomputed ``pb`` must
    agree with the directory-derived one
    (``sources/iceberg_native.py``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import read_iceberg, write_iceberg

    root = tempfile.mkdtemp(prefix="dw_ice_pp_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 8).alias("pb"),
        "p_partkey",
        F.length("p_name").cast("int").alias("name_len"),
    )
    write_iceberg(part, root, now_ms=1_700_000_000_000,
                  partition_by=["pb"])
    return read_iceberg(spark, root, where={"pb": 5}).select(
        "pb", "p_partkey", "name_len",
    )


@register(
    "iceberg_native_expire",
    oracle="""
    SELECT p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 3 IN (1, 2)
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "expire-snapshots", "retention", "maintenance"),
)
def q_iceberg_native_expire(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Iceberg EXECUTED expire_snapshots (round 14 — VERDICT
    r13 item 6, matching the Delta VACUUM's retention contract):
    snapshot s1 writes residue-0 keys (t=1000), s2 OVERWRITES with
    residue-1 (t=2000, orphaning s1's files from the current
    lineage), s3 appends residue-2 (t=3000); expiring older than
    t=2500 removes s1 and s2 from the metadata — but s2's data files
    SURVIVE because s3's manifest list still references its manifest
    (reachability, not age, decides deletion), while s1's files are
    physically deleted.  The current read must come back byte-exact
    (the oracle) — a reach-set bug either crashes the scan on a
    deleted file or resurrects residue-0 rows.  Post-expire time
    travel to s1 loud-fails and re-running is idempotent
    (pytest-pinned; ``sources/iceberg_native.py:expire_iceberg``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import (
        expire_iceberg,
        read_iceberg,
        write_iceberg,
    )

    root = tempfile.mkdtemp(prefix="dw_ice_exp_") + "/tbl"
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(part.filter("k % 3 = 0"), root, now_ms=1000)
    write_iceberg(part.filter("k % 3 = 1"), root,
                  mode="overwrite", now_ms=2000)
    write_iceberg(part.filter("k % 3 = 2"), root,
                  mode="append", now_ms=3000)
    r = expire_iceberg(root, older_than_ms=2500, now_ms=5000)
    if r["expired"] != 2 or r["deleted_data_files"] < 1:
        raise ValueError("expire did not run as planned")
    return read_iceberg(spark, root).select("k", "v")


@register(
    "stream_interval_join",
    oracle="""
    SELECT l.user_id,
           l.event_id AS purchase_id,
           r.event_id AS click_id,
           l.ts AS purchase_ts,
           r.ts AS click_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND r.ts <= l.ts
     AND r.ts >= l.ts - INTERVAL 30 MINUTE
    """,
    tags=("streaming", "stream-stream-join", "interval-join",
          "watermark", "availableNow", "attribution"),
)
def q_stream_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM INTERVAL JOIN under the oracle (round 14 —
    VERDICT r13 item 4, promoting ``streaming/joins.py:
    stream_interval_join`` from pytest-only): purchases and clicks
    replayed as two REAL file streams, joined on user with the click
    required inside the 30 minutes before the purchase — the
    attribution shape.  Both sides carry event-time watermarks (the
    condition that lets Spark prove when a buffered row can never
    match again and evict it — state is O(rate × interval), not
    O(stream age), the property that makes this viable at 100 TB/day)
    plus the time-range predicate; INNER join results emit as soon as
    both sides arrive, so the single-micro-batch availableNow replay
    is deterministic and the DuckDB oracle recomputes the identical
    pair set with a plain interval join."""
    import tempfile

    from pyspark.sql import types as T

    _utc(spark)
    from ..streaming.joins import stream_interval_join

    root = tempfile.mkdtemp(prefix="dw_stream_ij_")
    events = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    events.filter("event_type = 'purchase'").coalesce(1) \
        .write.mode("overwrite").parquet(f"{root}/left")
    events.filter("event_type = 'click'").coalesce(1) \
        .write.mode("overwrite").parquet(f"{root}/right")
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    left = (
        spark.readStream.schema(schema).parquet(f"{root}/left")
        .select("user_id", F.col("ts").alias("l_ts"),
                F.col("event_id").alias("purchase_id"))
    )
    right = (
        spark.readStream.schema(schema).parquet(f"{root}/right")
        .select("user_id", F.col("ts").alias("r_ts"),
                F.col("event_id").alias("click_id"))
    )
    joined = stream_interval_join(
        left, right, on="user_id", left_ts="l_ts", right_ts="r_ts",
        lookback="30 minutes", watermark="60 minutes",
    )
    # a stream-stream join runs FOUR state stores per shuffle
    # partition and availableNow pays a finalization micro-batch on
    # top: per-partition state commit overhead dominates at fixture
    # scale (32 partitions: ~160 s; 4: ~6 s, same result).  Scope the
    # state partition count to the stream and restore — production
    # sizes this to throughput, not to the session default
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/cp")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(f"{root}/out").select(
        "user_id",
        "purchase_id",
        F.col("r_click_id").alias("click_id"),
        F.col("l_ts").alias("purchase_ts"),
        F.col("r_r_ts").alias("click_ts"),
    )


@register(
    "stream_dedup_events",
    oracle="""
    SELECT user_id, ts, event_id, event_type FROM events
    """,
    tags=("streaming", "dedup", "watermark", "exactly-once",
          "availableNow"),
)
def q_stream_dedup_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING DEDUP under the oracle (round 14 — VERDICT r13
    item 4, promoting ``streaming/upsert_stream.py:
    stream_dedup_events``): the events table with every third event
    RE-DELIVERED (the at-least-once duplication a Kafka redelivery
    or file re-drop produces), replayed through
    ``dropDuplicatesWithinWatermark`` on event_id with a 1-hour
    event-time horizon — exactly-once rows out, BOUNDED state (keys
    evict once the watermark passes them; an unbounded
    dropDuplicates would OOM the state store at 100 TB/day).
    Duplicates are byte-identical copies, so whichever arrival
    survives, the output row set equals the distinct source — which
    is the oracle, making any dropped-original or surviving-duplicate
    bug a hash mismatch."""
    import tempfile

    from pyspark.sql import types as T

    _utc(spark)
    from ..streaming.upsert_stream import stream_dedup_events

    root = tempfile.mkdtemp(prefix="dw_stream_dd_")
    events = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    redelivered = events.unionByName(
        events.filter("event_id % 3 = 0")
    )
    redelivered.coalesce(1).write.mode("overwrite") \
        .parquet(f"{root}/src")
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    stream = spark.readStream.schema(schema).parquet(f"{root}/src")
    deduped = stream_dedup_events(
        stream, id_col="event_id", ts_col="ts", horizon="1 hour"
    )
    # same state-store economics as stream_interval_join: scope the
    # state partition count to the stream, restore after
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            deduped.writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/cp")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(f"{root}/out").select(
        "user_id", "ts", "event_id", "event_type"
    )


@register(
    "delta_native_table_changes",
    oracle="""
    SELECT p_partkey AS k,
           CAST(-length(p_name) AS INTEGER) AS v,
           'insert' AS _change_type
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey, CAST(length(p_name) + 1000 AS INTEGER), 'insert'
    FROM part WHERE p_partkey % 2 = 1 AND p_partkey % 7 = 0
    UNION ALL
    SELECT p_partkey, CAST(length(p_name) AS INTEGER), 'delete'
    FROM part WHERE p_partkey % 10 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "change-data-feed", "version-diff"),
)
def q_delta_native_table_changes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta CHANGE FEED as a version diff (round 14): the
    evens of part at v0, a MERGE at v1 (sign-flip multiples of 10,
    insert odd multiples of 7), then ``delta_table_changes(0, 1)`` —
    updated keys surface as delete(old image) + insert(new image),
    brand-new keys as inserts, and the MERGE-kept rows that were
    REWRITTEN into new files (the same candidate files' other rows)
    must cancel EXACTLY through the added/removed ``exceptAll``
    pair.  Only between-version file churn is read — carried-over
    files never enter the plan, the property that makes a daily diff
    cost the day's churn at 100 TB
    (``sources/delta_native.py:delta_table_changes``)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        delta_table_changes,
        merge_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_cdf_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_700_000_000_000,
    )
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    ).unionByName(
        part.filter("p_partkey % 2 = 1 AND p_partkey % 7 = 0").select(
            F.col("p_partkey").alias("k"),
            (F.length("p_name") + 1000).cast("int").alias("v"),
        )
    )
    merge_delta(root, updates, "k", now_ms=1_700_000_060_000)
    return delta_table_changes(spark, root, 0, 1).select(
        "k", "v", "_change_type",
    )


@register(
    "iceberg_native_merge_delete",
    oracle="""
    WITH merged AS (
      SELECT p_partkey AS k,
             CAST(-length(p_name) AS INTEGER) AS v
      FROM part WHERE p_partkey % 10 = 0
      UNION ALL
      SELECT p_partkey, CAST(length(p_name) AS INTEGER)
      FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 10 <> 0
      UNION ALL
      SELECT p_partkey, CAST(length(p_name) + 1000 AS INTEGER)
      FROM part WHERE p_partkey % 2 = 1 AND p_partkey % 7 = 0)
    SELECT k, v FROM merged WHERE k NOT BETWEEN 200 AND 599
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "merge", "delete", "copy-on-write", "bounds"),
)
def q_iceberg_native_merge_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Iceberg MERGE + range DELETE (round 14 — full DML
    parity with the Delta writer): the evens of part committed with
    per-file ``lower_bounds``/``upper_bounds`` (spec field-ids
    125/128, single-value little-endian serialization), then a COW
    MERGE (sign-flip multiples of 10, insert odd multiples of 7)
    whose rewrite set is the EXACT bound-window hit set — insert-only
    keys extend the range but rewrite nothing — followed by a range
    DELETE that rewrites only bound-overlapping files.  Each commit
    is a self-contained v2 snapshot manifest: status=1 adds,
    status=0 existing entries carrying their ORIGINAL
    snapshot/sequence numbers, status=2 deletes — so time travel to
    every prior snapshot still reads exactly (pytest-pinned).  The
    oracle recomputes the final row set; a wrong candidate set,
    double-kept existing entry, or resurrection through the deleted
    range all hash-mismatch
    (``sources/iceberg_native.py:merge_iceberg`` / ``delete_iceberg``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import (
        delete_iceberg,
        merge_iceberg,
        read_iceberg,
        write_iceberg,
    )

    root = tempfile.mkdtemp(prefix="dw_ice_dml_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1000,
    )
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    ).unionByName(
        part.filter("p_partkey % 2 = 1 AND p_partkey % 7 = 0").select(
            F.col("p_partkey").alias("k"),
            (F.length("p_name") + 1000).cast("int").alias("v"),
        )
    )
    merge_iceberg(root, updates, "k", now_ms=2000)
    delete_iceberg(root, "k", 200, 599, now_ms=3000)
    from ..sources.iceberg_native import optimize_iceberg

    # compaction on top (operation='replace'): row-invariant by
    # contract, so the SAME oracle pins it — a lost row or
    # double-packed group hash-mismatches here
    optimize_iceberg(root, target_rows=2000, now_ms=4000)
    return read_iceberg(spark, root).select("k", "v")


@register(
    "delta_native_dv_delete",
    oracle="""
    SELECT p_partkey AS k, CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 2 = 0
      AND NOT (p_partkey BETWEEN 100 AND 360)
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "deletion-vectors", "merge-on-read", "delete"),
)
def q_delta_native_dv_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Delta merge-on-read DELETE via DELETION VECTORS
    (round 14 continuation): two overlapping range deletes on a
    multi-file table write roaring bitmaps instead of rewriting any
    data file (``sources/delta_native.py:dv_delete_delta`` — the
    PROTOCOL.md reader-3 "Deletion Vectors" layout the forensics
    reader ``functions/delta_log.py`` independently decodes,
    cross-checked in pytest).  The second delete overlaps the first,
    exercising the superseding-descriptor UNION; a file whose every
    row dies collapses to a pure remove.  The read applies the DVs
    through a broadcast anti join on ``_metadata.row_index`` whose
    positions side decodes EXECUTOR-side — the 100 TB
    low-selectivity delete shape, where copy-on-write would rewrite
    terabytes to drop a fraction of rows.  The oracle recomputes the
    surviving rows; a dropped descriptor, wrong offset, or stale
    bitmap all hash-mismatch."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        dv_delete_delta,
        read_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_dv_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    dv_delete_delta(root, "k", 100, 280, now_ms=2_000)
    dv_delete_delta(root, "k", 240, 360, now_ms=3_000)
    return read_delta(spark, root).select("k", "v")


@register(
    "delta_native_dv_purge",
    oracle="""
    SELECT p_partkey AS k, CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 2 = 0
      AND NOT (p_partkey BETWEEN 100 AND 360)
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "deletion-vectors", "purge", "vacuum", "maintenance"),
)
def q_delta_native_dv_purge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The deletion-vector LIFECYCLE end-to-end (round 14
    continuation): DV deletes -> OPTIMIZE purges the vectors (real
    Delta's ``REORG ... APPLY (PURGE)`` effect — rewritten files
    hold only live rows, dataChange=false stays honest) ->
    checkpoint + log cleanup drop the descriptor references ->
    VACUUM reclaims the now-unreferenced ``.bin`` (unreferenced ==
    unreachable by every reader including time travel, so no
    retention clock is needed).  The result must equal the plain
    DV-delete query's oracle EXACTLY — purge and reclamation are
    row-invariant by contract, so a purge that resurrects a deleted
    row, loses a live one, or a vacuum that deletes a still-needed
    bin all hash-mismatch (``sources/delta_native.py:optimize_delta``
    / ``vacuum_delta``)."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        checkpoint_delta,
        clean_log_delta,
        dv_delete_delta,
        optimize_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_dvp_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    dv_delete_delta(root, "k", 100, 280, now_ms=2_000)
    dv_delete_delta(root, "k", 240, 360, now_ms=3_000)
    optimize_delta(root, target_rows=100_000, now_ms=4_000)
    checkpoint_delta(root)
    clean_log_delta(root)
    vacuum_delta(root, 0, now_ms=10**13, dry_run=False)
    return read_delta(spark, root).select("k", "v")


@register(
    "iceberg_native_position_deletes",
    oracle="""
    SELECT p_partkey AS k, CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 2 = 0
      AND NOT (p_partkey BETWEEN 100 AND 360)
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "merge-on-read", "position-deletes", "delete"),
)
def q_iceberg_native_position_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NATIVE Iceberg merge-on-read DELETE via POSITION-DELETE files
    (round 14 continuation — the v2 spec's content=1 path, twin of
    the Delta deletion-vector query): two overlapping range deletes
    write spec-shaped delete parquets (file_path + pos, sorted;
    duplicate positions across files are legal and union) committed
    as DELETE manifests (manifest-list content=1) beside
    self-contained data manifests — NO data file is rewritten
    (``sources/iceberg_native.py:mor_delete_iceberg``).  A purge
    (``purge_deletes_iceberg`` = rewrite_position_delete_files)
    then applies and drops the vectors, and ``expire_iceberg``
    reclaims the superseded delete parquets — both row-invariant by
    contract, so the SAME oracle pins the whole lifecycle.  The
    forensics decoder cross-reads the delete files in pytest
    (``functions/iceberg_scan.py:_load_positional_deletes``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import (
        expire_iceberg,
        mor_delete_iceberg,
        purge_deletes_iceberg,
        read_iceberg,
        write_iceberg,
    )

    root = tempfile.mkdtemp(prefix="dw_ice_mor_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").cast("long").alias("k"),
        F.length("p_name").cast("long").alias("v"),
    )
    write_iceberg(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    mor_delete_iceberg(root, "k", 100, 280, now_ms=2_000)
    mor_delete_iceberg(root, "k", 240, 360, now_ms=3_000)
    purge_deletes_iceberg(root, now_ms=4_000)
    expire_iceberg(root, older_than_ms=3_500, now_ms=5_000)
    return read_iceberg(spark, root).select(
        "k", F.col("v").cast("int").alias("v"))


@register(
    "delta_to_iceberg_uniform",
    oracle="""
    SELECT p_partkey AS k,
           CAST(-length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER)
    FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 10 <> 0
    """,
    tags=("sources", "delta-lake", "iceberg", "lakehouse",
          "uniform", "interop", "metadata-only"),
)
def q_delta_to_iceberg_uniform(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UniForm-style METADATA-ONLY Delta -> Iceberg conversion
    (round 14 continuation — ``sources/uniform.py``): a native Delta
    table (write + MERGE) gains co-located Iceberg v2 metadata
    referencing the SAME parquet files — zero data copy — and the
    result is served through the ICEBERG reader
    (``read_iceberg``).  The sync is incremental: the first convert
    maps the initial file set, the post-MERGE re-sync commits one
    Iceberg snapshot whose diff carries untouched files status-0
    with their original snapshot ids (pytest-pinned).  The oracle
    recomputes the post-merge rows; a dropped file, stale carried
    entry, or a reader disagreement between the two formats all
    hash-mismatch."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import merge_delta, write_delta
    from ..sources.iceberg_native import read_iceberg
    from ..sources.uniform import convert_delta_to_iceberg

    root = tempfile.mkdtemp(prefix="dw_uniform_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    convert_delta_to_iceberg(root, now_ms=1_500)
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    )
    merge_delta(root, updates, "k", now_ms=2_000)
    convert_delta_to_iceberg(root, now_ms=2_500)
    return read_iceberg(spark, root).select("k", "v")


@register(
    "stream_left_outer_join",
    oracle="""
    WITH l AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase'),
    r AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'click'),
    cutoff AS (
      SELECT least((SELECT max(ts) FROM l), (SELECT max(ts) FROM r))
             - INTERVAL 60 MINUTE AS wm)
    SELECT l.user_id,
           l.event_id AS purchase_id,
           r.event_id AS click_id,
           l.ts AS purchase_ts,
           r.ts AS click_ts
    FROM l JOIN r
      ON l.user_id = r.user_id
     AND r.ts <= l.ts
     AND r.ts >= l.ts - INTERVAL 30 MINUTE
    UNION ALL
    SELECT l.user_id, l.event_id, CAST(NULL AS BIGINT), l.ts,
           CAST(NULL AS TIMESTAMP)
    FROM l, cutoff
    WHERE l.ts < cutoff.wm
      AND NOT EXISTS (
        SELECT 1 FROM r
        WHERE r.user_id = l.user_id
          AND r.ts <= l.ts
          AND r.ts >= l.ts - INTERVAL 30 MINUTE)
    """,
    tags=("streaming", "stream-stream-join", "interval-join",
          "left-outer", "watermark", "availableNow", "attribution"),
)
def q_stream_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM LEFT OUTER interval join under the oracle
    (round 14 continuation): the attribution join of
    ``stream_interval_join`` with the UNMATCHED purchases kept —
    the shape that surfaces un-attributed conversions in a live
    pipeline.  Outer semantics are watermark-driven and the oracle
    recomputes them EXPLICITLY: an unmatched purchase emits its
    NULL-click row only once the GLOBAL watermark (min over both
    streams of max event time - 60 min delay) passes it — pinned
    empirically as STRICT ``l_ts < watermark`` (a row exactly AT the
    watermark stays in state and is discarded at stream end, tested
    at 1-second granularity in ``tests/test_stream_joins.py``).
    Matched pairs emit exactly as the inner join does.  State stays
    O(rate × interval) via the same eviction maths
    (``streaming/joins.py:stream_interval_join`` with
    ``how='left_outer'``)."""
    import tempfile

    from pyspark.sql import types as T

    _utc(spark)
    from ..streaming.joins import stream_interval_join

    root = tempfile.mkdtemp(prefix="dw_stream_loj_")
    events = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    events.filter("event_type = 'purchase'").coalesce(1) \
        .write.mode("overwrite").parquet(f"{root}/left")
    events.filter("event_type = 'click'").coalesce(1) \
        .write.mode("overwrite").parquet(f"{root}/right")
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    left = (
        spark.readStream.schema(schema).parquet(f"{root}/left")
        .select("user_id", F.col("ts").alias("l_ts"),
                F.col("event_id").alias("purchase_id"))
    )
    right = (
        spark.readStream.schema(schema).parquet(f"{root}/right")
        .select("user_id", F.col("ts").alias("r_ts"),
                F.col("event_id").alias("click_id"))
    )
    joined = stream_interval_join(
        left, right, on="user_id", left_ts="l_ts", right_ts="r_ts",
        lookback="30 minutes", watermark="60 minutes",
        how="left_outer",
    )
    # same state-store economics as stream_interval_join: scope the
    # shuffle-partition count to the stream and restore
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            joined.writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/cp")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(f"{root}/out").select(
        "user_id",
        "purchase_id",
        F.col("r_click_id").alias("click_id"),
        F.col("l_ts").alias("purchase_ts"),
        F.col("r_r_ts").alias("click_ts"),
    )


@register(
    "hudi_cow_snapshot_scan",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, 3 + doc_id % 3 AS ng FROM documents),
    g AS (
      SELECT media_id, ng, unnest(generate_series(0, ng - 1)) AS i
      FROM m),
    s AS (
      SELECT media_id, ng, i,
             20 + (media_id + i) % 30 AS rows1,
             1000 * i + media_id % 50 AS lo,
             CASE WHEN i % 3 = media_id % 3 THEN 1 ELSE 0 END AS upd
      FROM g),
    v AS (
      SELECT media_id, ng, i, rows1, lo, upd,
             rows1 + 5 * upd AS live
      FROM s)
    SELECT media_id,
           CAST(3 AS INTEGER) AS n_instants,
           CAST(2 AS INTEGER) AS n_completed,
           CAST(max(ng) AS INTEGER) AS file_groups,
           CAST(max(ng) AS INTEGER) AS live_files,
           CAST(1 AS INTEGER) AS skipped_inflight_files,
           CAST(sum(upd) AS INTEGER) AS replaced_slices,
           CAST(sum(live) AS BIGINT) AS total_rows,
           CAST(sum(lo * live + live * (live - 1) // 2) AS BIGINT)
             AS v_sum,
           CAST(sum(rows1) AS BIGINT) AS rows_asof_first,
           CAST(sum(live * upd) AS BIGINT) AS rows_written_by_last
    FROM v
    GROUP BY media_id
    """,
    tags=("sources", "hudi", "lakehouse", "timeline", "file-slices",
          "mapInPandas"),
)
def q_hudi_cow_snapshot_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apache Hudi COPY_ON_WRITE table layout (round 14
    continuation — the THIRD lakehouse format family beside
    Delta/Iceberg): per-document synthetic COW bundles decoded by
    the hand timeline + file-slice reader
    (``functions/hudi_scan.py``).  Each bundle carries two COMPLETED
    commits (the second an UPSERT laying new file slices over a
    subset of file groups — snapshot must serve the newest completed
    slice per group and count the superseded ones), one INFLIGHT
    instant whose orphan base file must stay invisible (the
    crash-consistency rule a 'latest file by name' reader breaks,
    oracle-visible via total_rows/v_sum), Hive partition dirs, and
    per-commit write stats that the reader cross-checks
    size/row-count/name field by field.  Time travel (rows as of the
    first commit) and the incremental readout (rows written by the
    last commit) come from the same timeline walk.  The oracle
    recomputes every aggregate from the synth formula."""
    _utc(spark)
    from ..operators.multimodal import (
        extract_hudi_scan,
        synthesize_hudi_media,
    )

    media = synthesize_hudi_media(_t(spark, sf_dir, "documents"))
    return extract_hudi_scan(media).select(
        "media_id", "n_instants", "n_completed", "file_groups",
        "live_files", "skipped_inflight_files", "replaced_slices",
        "total_rows", "v_sum", "rows_asof_first",
        "rows_written_by_last",
    )


@register(
    "delta_native_restore",
    oracle="""
    SELECT p_partkey AS k,
           CAST(-length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER)
    FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 10 <> 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "restore", "time-travel", "metadata-only"),
)
def q_delta_native_restore(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTORE TO VERSION AS OF (round 14 continuation —
    ``sources/delta_native.py:restore_delta``): write -> MERGE ->
    deletion-vector DELETE -> restore to the post-MERGE version.
    The restore is a NEW metadata-only commit (zero data files move,
    pytest-pinned) that re-adds the target version's live set with
    its ORIGINAL stats and DV descriptors and tombstones the rest;
    history above it stays readable.  The oracle recomputes the
    post-merge rows — a restore that lands on v0 (missing the
    updates), stays on the DV-deleted head, or drops a descriptor
    all hash-mismatch."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        dv_delete_delta,
        merge_delta,
        read_delta,
        restore_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_rst_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    )
    merge_delta(root, updates, "k", now_ms=2_000)       # v1
    dv_delete_delta(root, "k", 100, 400, now_ms=3_000)  # v2
    restore_delta(root, 1, now_ms=4_000)                # v3
    return read_delta(spark, root).select("k", "v")


@register(
    "iceberg_native_rollback",
    oracle="""
    SELECT p_partkey AS k, CAST(length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 2 = 0
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "rollback", "tags", "refs", "metadata-only"),
)
def q_iceberg_native_rollback(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg ROLLBACK + TAG refs (round 14 continuation —
    ``sources/iceberg_native.py:rollback_iceberg`` / ``tag_iceberg``):
    the base table is TAGGED, a MERGE advances main, then a
    metadata-only rollback re-points ``current-snapshot-id`` (and
    the main branch) at the tagged ancestor — no snapshot deleted,
    the rolled-over one stays readable by id until expiry, and tags
    survive intermediate commits (the refs-merge bug this round's
    test caught: a commit that rebuilds ``refs`` with only ``main``
    silently drops every tag).  The result is read THROUGH THE TAG,
    which must equal the rolled-back main — the oracle recomputes
    the pre-merge rows, so a rollback that stays on the merged head
    or a tag resolving to the wrong snapshot hash-mismatches."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import (
        merge_iceberg,
        read_iceberg,
        rollback_iceberg,
        tag_iceberg,
        write_iceberg,
    )

    root = tempfile.mkdtemp(prefix="dw_ice_rb_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    s1 = write_iceberg(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    tag_iceberg(root, "baseline")
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    )
    merge_iceberg(root, updates, "k", now_ms=2_000)
    rollback_iceberg(root, s1, now_ms=3_000)
    return read_iceberg(spark, root, ref="baseline").select("k", "v")


@register(
    "iceberg_native_schema_evolution",
    oracle="""
    SELECT p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v,
           CAST(NULL AS VARCHAR) AS label
    FROM part WHERE p_partkey % 2 = 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER),
           p_brand
    FROM part WHERE p_partkey % 2 = 1 AND p_partkey % 7 = 0
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "schema-evolution", "add-column"),
)
def q_iceberg_native_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg write-side SCHEMA EVOLUTION (round 14 continuation —
    the VERDICT r13 'what's missing' item 4 write half): the evens
    of part committed 2-column, then a trailing nullable ADD COLUMN
    lands with a second append (odd multiples of 7 carrying
    ``p_brand`` as the new ``label``).  The evolved table serves the
    UNION: old files resolve the added column as NULL (pinned by the
    oracle's ``CAST(NULL AS VARCHAR)`` leg), new files carry values;
    field ids stay stable (prefix keeps the old ids, the added
    column takes last-column-id+1 — the spec's one unbreakable
    evolution rule) and time travel below the evolution resolves
    the OLD 2-column schema (pytest-pinned).  Drops / renames /
    retypes stay loud boundaries
    (``sources/iceberg_native.py:write_iceberg``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import read_iceberg, write_iceberg

    root = tempfile.mkdtemp(prefix="dw_ice_evo_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    extra = part.filter(
        "p_partkey % 2 = 1 AND p_partkey % 7 = 0"
    ).select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
        F.col("p_brand").alias("label"),
    )
    write_iceberg(extra, root, now_ms=2_000,
                  allow_schema_change=True)
    return read_iceberg(spark, root).select("k", "v", "label")


@register(
    "iceberg_to_delta_reverse_sync",
    oracle="""
    SELECT p_partkey AS k,
           CAST(-length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER)
    FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 10 <> 0
    """,
    tags=("sources", "iceberg", "delta-lake", "lakehouse",
          "uniform", "interop", "metadata-only"),
)
def q_iceberg_to_delta_reverse_sync(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The REVERSE zero-copy sync (round 14 continuation —
    ``sources/uniform.py:convert_iceberg_to_delta``, completing
    bidirectional interop with ``delta_to_iceberg_uniform``): a
    native Iceberg table (write + MERGE) gains a co-located
    ``_delta_log`` referencing the SAME parquet files, and the
    result is served through the DELTA reader.  Incremental like the
    forward sync (the post-MERGE re-sync appends one Delta version
    carrying the file diff; Delta time travel reaches the first
    sync, pytest-pinned); add-action stats are derived from the
    Iceberg manifests' typed bounds, so stats-window DML planning
    works on the converted log too.  The oracle recomputes the
    post-merge rows."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import read_delta
    from ..sources.iceberg_native import merge_iceberg, write_iceberg
    from ..sources.uniform import convert_iceberg_to_delta

    root = tempfile.mkdtemp(prefix="dw_rev_uni_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    convert_iceberg_to_delta(root, now_ms=1_500)
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    )
    merge_iceberg(root, updates, "k", now_ms=2_000)
    convert_iceberg_to_delta(root, now_ms=2_500)
    return read_delta(spark, root).select("k", "v")


@register(
    "delta_native_dv_merge",
    oracle="""
    SELECT p_partkey AS k,
           CAST(-length(p_name) AS INTEGER) AS v
    FROM part WHERE p_partkey % 10 = 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) AS INTEGER)
    FROM part WHERE p_partkey % 2 = 0 AND p_partkey % 10 <> 0
    UNION ALL
    SELECT p_partkey,
           CAST(length(p_name) + 1000 AS INTEGER)
    FROM part WHERE p_partkey % 2 = 1 AND p_partkey % 7 = 0
    """,
    tags=("sources", "delta-lake", "lakehouse", "native-write",
          "merge", "deletion-vectors", "low-shuffle"),
)
def q_delta_native_dv_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LOW-SHUFFLE MERGE via deletion vectors (round 14
    continuation — ``merge_delta(use_dv=True)``): the SAME upsert as
    ``delta_native_merge`` (sign-flip matched evens divisible by 10,
    insert odd multiples of 7) but matched target rows are MASKED
    with a DV instead of rewritten — original files stay
    byte-identical (pytest-pinned), update/insert images land as
    fresh files, and the write cost is O(matches + updates) instead
    of O(touched files).  The identical oracle to the copy-on-write
    merge is the point: both strategies must produce the same table,
    so a mask that misses a matched row (duplicate k) or masks a
    kept neighbor (lost row) hash-mismatches here while the COW
    twin stays green."""
    import tempfile

    _utc(spark)
    from ..sources.delta_native import (
        merge_delta,
        read_delta,
        write_delta,
    )

    root = tempfile.mkdtemp(prefix="dw_delta_dvm_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    updates = part.filter("p_partkey % 10 = 0").select(
        F.col("p_partkey").alias("k"),
        (-F.length("p_name")).cast("int").alias("v"),
    ).unionByName(
        part.filter("p_partkey % 2 = 1 AND p_partkey % 7 = 0").select(
            F.col("p_partkey").alias("k"),
            (F.length("p_name") + 1000).cast("int").alias("v"),
        )
    )
    merge_delta(root, updates.coalesce(4), "k", now_ms=2_000,
                use_dv=True)
    return read_delta(spark, root).select("k", "v")


@register(
    "iceberg_native_write_audit_publish",
    oracle="""
    SELECT p_partkey AS k, CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 2 = 0 OR (p_partkey % 2 = 1 AND p_partkey % 7 = 0)
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "branches", "write-audit-publish", "refs"),
)
def q_iceberg_native_write_audit_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WRITE-AUDIT-PUBLISH on native Iceberg branches (round 14
    continuation — ``write_iceberg(branch=...)`` +
    ``publish_iceberg``): the day's load (odd multiples of 7) lands
    on an ``audit`` branch — main readers keep serving the evens
    (pinned in-query: a main read mid-audit must NOT see the staged
    rows, else ValueError) — then publish fast-forwards main after
    validating the branch descends from main's head (the mid-audit
    race is a loud refusal, pytest-pinned).  The oracle recomputes
    the published union; a branch commit that leaked into main
    early, or a publish that lost the staged rows, both
    hash-mismatch."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import (
        publish_iceberg,
        read_iceberg,
        write_iceberg,
    )

    root = tempfile.mkdtemp(prefix="dw_ice_wap_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1_000,
    )
    staged = part.filter(
        "p_partkey % 2 = 1 AND p_partkey % 7 = 0"
    ).select(
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(staged, root, now_ms=2_000, branch="audit")
    n_main = read_iceberg(spark, root).count()
    n_base = base.count()
    if n_main != n_base:
        raise ValueError(
            f"audit isolation broken: main sees {n_main} rows "
            f"mid-audit, expected {n_base}"
        )
    publish_iceberg(root, "audit", now_ms=3_000)
    return read_iceberg(spark, root).select("k", "v")


@register(
    "iceberg_native_partitioned_mor",
    oracle="""
    SELECT CAST(p_partkey % 4 AS BIGINT) AS p,
           p_partkey AS k,
           CAST(length(p_name) AS INTEGER) AS v
    FROM part
    WHERE p_partkey % 2 = 0
      AND NOT (p_partkey BETWEEN 100 AND 360)
    """,
    tags=("sources", "iceberg", "lakehouse", "native-write",
          "merge-on-read", "position-deletes", "partitioned",
          "global-deletes"),
)
def q_iceberg_native_partitioned_mor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITIONED merge-on-read Iceberg DELETE (round 14
    continuation — lifting the unpartitioned-only boundary via the
    spec's GLOBAL-delete shape): a 4-way identity-partitioned table
    takes two overlapping range deletes as position-delete files
    written under the UNPARTITIONED spec (id 1, registered in
    metadata on first use; the delete manifest declares it in the
    manifest list) — NO data file in ANY partition is rewritten,
    and manifest-layer partition pruning keeps working on the MOR
    table.  A purge then rewrites only the affected partitions'
    files under the table spec.  The oracle recomputes the
    surviving rows with their partition values; a delete that
    leaked across the wrong partition's positions, or a purge that
    dropped a partition column, hash-mismatches
    (``sources/iceberg_native.py:mor_delete_iceberg``)."""
    import tempfile

    _utc(spark)
    from ..sources.iceberg_native import (
        mor_delete_iceberg,
        purge_deletes_iceberg,
        read_iceberg,
        write_iceberg,
    )

    root = tempfile.mkdtemp(prefix="dw_ice_pmor_") + "/tbl"
    part = _t(spark, sf_dir, "part")
    base = part.filter("p_partkey % 2 = 0").select(
        (F.col("p_partkey") % 4).cast("long").alias("p"),
        F.col("p_partkey").alias("k"),
        F.length("p_name").cast("int").alias("v"),
    )
    write_iceberg(
        base.repartition(4, "p"), root, now_ms=1_000,
        partition_by=["p"],
    )
    mor_delete_iceberg(root, "k", 100, 280, now_ms=2_000)
    mor_delete_iceberg(root, "k", 240, 360, now_ms=3_000)
    purge_deletes_iceberg(root, now_ms=4_000)
    return read_iceberg(spark, root).select("p", "k", "v")

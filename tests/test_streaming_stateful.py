"""Stateful streaming sessionization: the applyInPandasWithState
operator running under a real StreamingQuery."""

from __future__ import annotations

import datetime

from datawarehouseproject_spark.streaming.windows import sessionize


def _run_sessions(spark, tmp_path, ts_col: str) -> tuple[bool, set]:
    src = str(tmp_path / "events")
    ts = datetime.datetime(2024, 1, 1, 0, 0)

    def t(minutes):
        return ts + datetime.timedelta(minutes=minutes)

    # user 1: burst at :00-:10, then :59 (gap > 30 min closes session 1)
    schema = f"user_id long, {ts_col} timestamp"
    spark.createDataFrame(
        [(1, t(0)), (1, t(10)), (1, t(59)), (2, t(5))], schema
    ).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize(stream, gap_seconds=1800, ts_col=ts_col)
    name = f"sessions_{tmp_path.name}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        terminated = q.awaitTermination(120)
    finally:
        q.stop()
    rows = {(r["user_id"], r["n_events"]) for r in
            spark.sql(f"SELECT * FROM {name}").collect()}
    return terminated, rows


def test_sessionize_streaming_emits_closed_sessions(spark, tmp_path):
    terminated, rows = _run_sessions(spark, tmp_path, "ts")
    # event-time timeouts let the availableNow query finish on its own
    assert terminated is True
    # only sessions CLOSED inside the batch are emitted; user 1's
    # first burst closed when the :59 event arrived. user 2's single
    # session and user 1's :59 session stay open in state: the
    # watermark (:59 minus the 30-min gap) has not passed their ends.
    assert rows == {(1, 2)}


def test_sessionize_reads_the_named_timestamp_column(spark, tmp_path):
    terminated, rows = _run_sessions(spark, tmp_path, "event_time")
    assert terminated is True
    assert rows == {(1, 2)}


def test_sessionize_timeouts_ignore_the_session_time_zone(spark, tmp_path):
    # pandas sees Spark timestamps as naive session-local times; a
    # timeout derived from them west of UTC fell behind the watermark
    # and closed every open session in the first no-data batch
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try:
        terminated, rows = _run_sessions(spark, tmp_path, "ts")
    finally:
        spark.conf.set(key, old)
    assert terminated is True
    assert rows == {(1, 2)}

"""Streaming-native operators: watermarked windows & sessionization.

Beyond the reference (it has no streaming runtime, SURVEY.md §2.8)
but first-class for an events feed at scale. Both operators run
identically over a batch DataFrame (tests/oracles) and a streaming
one (watermark applies only in streaming mode).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling/sliding window counts + value sum per event_type.

    With a streaming source the watermark bounds state and admits
    late data up to 2h; on a batch frame the same plan is an ordinary
    window aggregation.
    """
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window_duration, slide or window_duration)
    return events.groupBy(win.alias("win"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
            "total_value"
        ),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start", T.DoubleType()),
        T.StructField("last", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


#: epoch seconds of the event time, the column the state function reads
_EPOCH = "__epoch_s"


def sessionize(
    events: DataFrame, gap_seconds: int = 1800, ts_col: str = "ts"
) -> DataFrame:
    """Gap-based sessionization via ``applyInPandasWithState``.

    The custom-stateful-operator extension point
    (SURVEY.md §7 step 8): per-user state carries the open session;
    an event beyond the gap closes it. Streaming-only (state +
    timeouts); the batch twin for tests is a window/lag plan in
    :func:`sessionize_batch`.

    The gap is event time: a ``gap_seconds`` watermark on ``ts_col``
    and an event-time timeout at ``last event + gap``, so an open
    session closes once the watermark passes its end. Processing-time
    timeouts would keep an ``availableNow`` query scheduling batches
    while any session is open, so it would never terminate. The
    function reads epoch seconds cast on the JVM side and returns
    UTC-aware timestamps: pandas sees Spark timestamps as naive
    session-local times, which would shift every timeout by the
    session time zone's offset.
    """

    def sessions(closed):
        return pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": [pd.Timestamp(c[1], unit="s", tz="UTC") for c in closed],
                "session_end": [pd.Timestamp(c[2], unit="s", tz="UTC") for c in closed],
                "n_events": [c[3] for c in closed],
            }
        )

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield sessions([(user_id, start, last, n)])
            return
        rows = pd.concat(list(pdf_iter)).sort_values(_EPOCH)
        out = []
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        for sec in rows[_EPOCH]:
            if start is None:
                start, last, n = sec, sec, 1
            elif sec - last > gap_seconds:
                out.append((user_id, start, last, n))
                start, last, n = sec, sec, 1
            else:
                last, n = sec, n + 1
        state.update((float(start), float(last), int(n)))
        state.setTimeoutTimestamp(int((last + gap_seconds) * 1000))
        if out:
            yield sessions(out)

    events = events.withWatermark(ts_col, f"{gap_seconds} seconds").withColumn(
        _EPOCH, F.col(ts_col).cast("double")
    )
    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def sessionize_batch(
    events: DataFrame, gap_seconds: int = 1800, ts_col: str = "ts"
) -> DataFrame:
    """Batch twin of :func:`sessionize`: lag/cumsum session ids.

    Pure built-ins (two windows over user_id), used to oracle-check
    the stateful streaming operator on the same input.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(ts_col)
    flagged = events.withColumn(
        "__new_sess",
        (
            F.coalesce(
                F.col(ts_col).cast("long")
                - F.lag(F.col(ts_col).cast("long")).over(w),
                F.lit(gap_seconds + 1),
            )
            > gap_seconds
        ).cast("long"),
    ).withColumn("__sess_id", F.sum("__new_sess").over(w))
    return flagged.groupBy("user_id", "__sess_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    ).drop("__sess_id")

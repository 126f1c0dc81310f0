"""Run ledger: the control-plane analogue (db_control).

The reference coordinates its pipeline through MySQL tables —
``process``, ``process_log``, ``crawl_log`` — with COUNT(*) guards
for mutual exclusion and once-per-day idempotency
(SURVEY.md §2.8; check_status.py:19-36, transform_staging.py:151-163,
crawl.py:58-77). Here the ledger is a small Parquet table of run
records appended per stage; the guards are the same COUNT queries as
DataFrame filters.

Design note: at cluster scale a run ledger is driver-side metadata —
tiny, append-only, read at job start. Appending one Parquet file per
run is fine (each append is one small file; compaction is a non-issue
at control-plane volumes).
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("PROCESS", T.StringType()),
        T.StructField("START_TIME", T.TimestampType()),
        T.StructField("END_TIME", T.TimestampType()),
        T.StructField("STATUS", T.StringType()),
        T.StructField("MESSAGE", T.StringType()),
    ]
)

#: Status vocabulary observed in the reference (FIXTURES.md F8).
RUNNING, SUCCESS, FAIL, WAITING = "RUNNING", "SUCCESS", "FAIL", "WAITING"


def utc_now() -> datetime.datetime:
    """The ledger's clock: naive UTC, as START_TIME/END_TIME store it."""
    return datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)


class RunLedger:
    """Append-only process log with the reference's guard queries."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame:
        try:
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def log(
        self,
        process: str,
        status: str,
        message: dict | str = "",
        start: datetime.datetime | None = None,
        end: datetime.datetime | None = None,
    ) -> None:
        """Append one run record; dict messages stored as JSON (the
        reference dumps row-count dicts into MESSAGE,
        load_staging.py:42-45). ``start``/``end`` default to now; a
        stage passes the :func:`utc_now` it began at as ``start``."""
        now = utc_now()
        msg = json.dumps(message) if isinstance(message, dict) else message
        row = [(process, start or now, end or now, status, msg)]
        self.spark.createDataFrame(row, LEDGER_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)

    def running_count(self, process: str | None = None) -> int:
        """Mutual-exclusion guard (COUNT_RUNNING_PROCESS_LOG,
        db_control_sql.sql:315-317).

        The ledger is append-only (no UPDATE on Parquet), so a run is
        'running' iff the LATEST record for its process says RUNNING
        — a terminal SUCCESS/FAIL append supersedes it.
        """
        from pyspark.sql import Window

        df = self._read()
        if process:
            df = df.filter(F.col("PROCESS") == process)
        w = Window.partitionBy("PROCESS").orderBy(
            F.col("END_TIME").desc(), F.col("STATUS").asc()
        )
        latest = df.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") == 1
        )
        return latest.filter(F.col("STATUS") == RUNNING).count()

    def acquire(self, process: str) -> bool:
        """Single-writer handoff (transform_staging.py:138-162): if
        another run of ``process`` is RUNNING, record WAITING and
        yield (returns False); otherwise claim RUNNING and return
        True. The caller logs SUCCESS/FAIL with :meth:`log` when
        done.

        NOTE: like the reference's COUNT-then-INSERT, this is a
        cooperative check, not a linearizable lock — the warehouse
        contract is a single daily scheduler; the guard catches
        overlapping *scheduled* runs, not adversarial racers.
        """
        if self.running_count(process) > 0:
            self.log(process, WAITING, "another run active")
            return False
        self.log(process, RUNNING, "claimed")
        return True

    def release(self, process: str, status: str, message: dict | str = "") -> None:
        """Finalize a claimed run (the UPDATE-log-status analogue,
        db_control_sql.sql:280-305): appends the terminal record; the
        RUNNING row is superseded by reading only the LATEST status
        per process in :meth:`running_count`."""
        self.log(process, status, message)

    def succeeded_today(self, process: str, today: datetime.date | None = None) -> bool:
        """Once-per-day idempotency guard (check_status.py:19-36).

        Reference-faithful form: compares the WALLCLOCK success time,
        so it only dedups same-day reruns. For a guard keyed on the
        logical run date (backfills included) use :meth:`succeeded_for`.
        """
        day = today or datetime.date.today()
        return (
            self._read()
            .filter(
                (F.col("PROCESS") == process)
                & (F.col("STATUS") == SUCCESS)
                & (F.to_date("END_TIME") == F.lit(day))
            )
            .count()
            > 0
        )

    def succeeded_for(self, process: str, for_date: datetime.date) -> bool:
        """Idempotency guard keyed on the LOGICAL run date.

        Matches SUCCESS records whose MESSAGE JSON carries
        ``for_date`` — so re-running a backfill date is skipped even
        when the wallclock day differs (the wallclock-keyed reference
        guard can't express that).
        """
        return (
            self._read()
            .filter(
                (F.col("PROCESS") == process)
                & (F.col("STATUS") == SUCCESS)
                & (
                    F.get_json_object("MESSAGE", "$.for_date")
                    == F.lit(str(for_date))
                )
            )
            .count()
            > 0
        )

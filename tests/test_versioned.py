"""Versioned tables on the Delta log (sources/delta_native.py):
snapshot isolation, time travel, concurrent commits, compaction,
vacuum and stats-based data skipping.

Delta numbers versions from 0. Where its contract differs from a
keep-last / retry-at-N+1 log, the tests assert Delta's: a writer that
loses a commit race raises and removes its own files, and VACUUM
reclaims tombstoned files once they age past a retention window."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from datawarehouseproject_spark.sources import delta_native as D
from datawarehouseproject_spark.sources.delta_native import (
    optimize_delta,
    read_delta,
    restore_delta,
    vacuum_delta,
    write_delta,
)

HOUR_MS = 3_600_000


def _latest(path: str) -> int:
    return D._log_info(path)[0]


def _live(path: str, version: int | None = None) -> list[str]:
    return sorted(D._replay_state(path, version)["live"])


def _data_files(path: str) -> list[str]:
    """Every parquet data file under the table root, log excluded."""
    out = []
    for dirpath, dnames, fnames in os.walk(path):
        dnames[:] = [d for d in dnames if d != "_delta_log"]
        out += [
            os.path.relpath(os.path.join(dirpath, n), path)
            for n in fnames if n.endswith(".parquet")
        ]
    return sorted(out)


def _n_files(df) -> int:
    return len(df.inputFiles())


def test_versions_commit_and_read_back(spark, tmp_path):
    path = str(tmp_path / "t")
    assert _latest(path) == -1
    assert write_delta(spark.range(0, 3), path, mode="overwrite") == 0
    assert write_delta(spark.range(0, 5), path, mode="overwrite") == 1
    assert _latest(path) == 1
    assert read_delta(spark, path).count() == 5  # latest
    assert read_delta(spark, path, version=0).count() == 3
    assert read_delta(spark, path, version=1).count() == 5


def test_snapshot_isolation_old_reader_unaffected(spark, tmp_path):
    """A DataFrame resolved at version 0 keeps returning its rows
    after an overwrite commits version 1 — the overwrite adds new
    files and only tombstones the old ones in the log."""
    path = str(tmp_path / "t")
    write_delta(spark.range(0, 4), path)
    v0 = read_delta(spark, path, version=0)
    assert v0.count() == 4
    write_delta(spark.range(0, 9), path, mode="overwrite")
    assert v0.count() == 4  # re-executed AFTER the version-1 commit
    assert read_delta(spark, path).count() == 9


def test_read_missing_version_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="no delta log"):
        read_delta(spark, path)
    write_delta(spark.range(2), path)
    with pytest.raises(ValueError, match="does not exist"):
        read_delta(spark, path, version=1)
    with pytest.raises(ValueError, match="does not exist"):
        read_delta(spark, path, version=-1)


def test_vacuum_retains_last_k(spark, tmp_path):
    """Delta's VACUUM keeps what a retention window needs, not the
    last K versions: four hourly overwrites, then a 1-hour-retention
    vacuum deletes the files tombstoned at or before the horizon
    (versions 0 and 1) and keeps those versions 2 and 3 read."""
    path = str(tmp_path / "t")
    for n in (1, 2, 3, 4):
        write_delta(spark.range(n), path, mode="overwrite",
                    now_ms=(n - 1) * HOUR_MS)
    kept = set(_live(path, 2)) | set(_live(path, 3))
    dry = vacuum_delta(path, retention_hours=1, now_ms=3 * HOUR_MS)
    assert set(_data_files(path)) >= kept  # dry run deletes nothing
    res = vacuum_delta(path, retention_hours=1, now_ms=3 * HOUR_MS,
                       dry_run=False)
    assert res["deleted"] == dry["eligible"] > 0
    assert set(_data_files(path)) == kept
    assert read_delta(spark, path, version=3).count() == 4
    assert read_delta(spark, path, version=2).count() == 3
    with pytest.raises(ValueError, match="not available"):
        read_delta(spark, path, version=0)


def test_uncommitted_orphan_invisible_and_nonblocking(spark, tmp_path):
    """A writer that dies after placing its data files but before its
    commit leaves files no log action names: readers never see them,
    the next commit is NOT blocked (its file names carry its own
    staging id), and once the orphan is older than the retention
    window VACUUM deletes it while every committed version reads."""
    path = str(tmp_path / "t")
    write_delta(spark.range(3), path)
    staged = str(tmp_path / "orphan")
    spark.range(99).coalesce(1).write.parquet(staged)
    src = next(n for n in os.listdir(staged) if n.endswith(".parquet"))
    orphan = os.path.join(path, "part-00001-00000.parquet")
    os.rename(os.path.join(staged, src), orphan)
    assert _latest(path) == 0
    assert read_delta(spark, path).count() == 3
    with pytest.raises(ValueError, match="does not exist"):
        read_delta(spark, path, version=1)
    # the orphan does not block the next commit
    assert write_delta(spark.range(7), path) == 1
    assert read_delta(spark, path, version=1).count() == 10
    assert "part-00001-00000.parquet" not in _live(path)
    # inside the retention window the orphan may be a writer about to
    # commit, so it stays
    young = vacuum_delta(path, retention_hours=0, now_ms=HOUR_MS,
                         dry_run=False)
    assert young["untracked"] == 0 and os.path.exists(orphan)
    dry = vacuum_delta(path, retention_hours=0, now_ms=10**13)
    assert dry["untracked"] == 1 and os.path.exists(orphan)
    res = vacuum_delta(path, retention_hours=0, now_ms=10**13,
                       dry_run=False)
    assert res["untracked_deleted"] == 1 and res["deleted"] == 0
    assert not os.path.exists(orphan)  # the orphan is gone...
    assert _data_files(path) == _live(path)
    # ...and nothing committed was dropped
    assert read_delta(spark, path, version=0).count() == 3
    assert read_delta(spark, path, version=1).count() == 10


def test_concurrent_writers_cas_exactly_one_winner(spark, tmp_path):
    """N threads append concurrently. The exclusive link of each
    version's JSON lets exactly one writer win each version; a loser
    raises and removes its own data files (it does not retry at
    N+1). Every winner's rows are in the table under the version it
    won, no loser's rows are, and no file outlives its commit."""
    import threading

    path = str(tmp_path / "t")
    n_writers = 6
    barrier = threading.Barrier(n_writers)
    won: dict[int, int] = {}
    lost: list[int] = []
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            barrier.wait()
            won[i] = write_delta(spark.range(i * 10, i * 10 + i + 1), path)
        except ValueError as e:
            if "already committed" not in str(e):
                errors.append(e)
            lost.append(i)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n_writers)]
    ts_key = "spark.sql.parquet.outputTimestampType"
    ts_before = spark.conf.get(ts_key, None)
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    # the last writer out restored the session's timestamp setting
    assert spark.conf.get(ts_key, None) == ts_before
    assert won and len(won) + len(lost) == n_writers
    # every committed version has exactly one writer
    assert sorted(won.values()) == list(range(_latest(path) + 1))
    for i, v in won.items():
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
            adds = [json.loads(ln)["add"] for ln in fh if '"add"' in ln]
        assert sum(json.loads(a["stats"])["numRecords"] for a in adds) == i + 1
    got = sorted(r["id"] for r in read_delta(spark, path).collect())
    assert got == sorted(
        x for i in won for x in range(i * 10, i * 10 + i + 1)
    )
    assert _data_files(path) == _live(path)
    assert not [n for n in os.listdir(path) if n.startswith(".staging")]


def test_rollback_is_manifest_only(spark, tmp_path):
    """Restoring version 0 is a new commit that re-adds version 0's
    files: the table's rows return and no data file is written."""
    path = str(tmp_path / "t")
    write_delta(spark.range(4), path)
    write_delta(spark.range(9), path, mode="overwrite")
    before = _data_files(path)
    restore_delta(path, 0, now_ms=1)
    assert _latest(path) == 2
    assert read_delta(spark, path).count() == 4
    assert _data_files(path) == before
    assert _live(path) == _live(path, 0)


def test_streaming_commits_versions_per_batch(spark, tmp_path):
    """Composition with Structured Streaming: a foreachBatch sink
    that commits one table version per micro-batch — the CDC shape
    where every ingest tick yields an auditable, time-travelable
    snapshot. Two source drops → two versions; version 0 stays
    readable (and unchanged) after version 1 appends the new batch."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(src)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        (
            stream.writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, _bid: write_delta(df, table) and None)
            .start()
            .awaitTermination()
        )

    run_once()
    assert _latest(table) == 0
    assert read_delta(spark, table, version=0).count() == 2

    spark.createDataFrame([(3, "c")], schema).write.mode("append").parquet(src)
    run_once()
    assert _latest(table) == 1
    v0 = read_delta(spark, table, version=0)
    v1 = read_delta(spark, table, version=1)
    assert v0.count() == 2
    assert [tuple(r) for r in v1.subtract(v0).collect()] == [(3, "c")]


# ---------------------------------------------------------------------------
# Compaction / OPTIMIZE.
# ---------------------------------------------------------------------------


def test_compact_reduces_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark.range(0, 100).repartition(8), path)
    assert len(_live(path)) == 8  # the small-file problem
    m = optimize_delta(path, target_rows=1000, now_ms=1)
    assert m["version"] == 1
    assert len(_live(path)) == 1
    # no semantic change: row sets identical across the commit...
    before = {r["id"] for r in read_delta(spark, path, 0).collect()}
    after = {r["id"] for r in read_delta(spark, path, 1).collect()}
    assert before == after == set(range(100))
    # ...and time travel to the pre-compaction snapshot still works
    assert read_delta(spark, path, version=0).count() == 100


def test_compact_conflict_aborts_never_reverts(spark, tmp_path, monkeypatch):
    """If a real write lands between the compactor's log read and its
    commit, the compaction must ABORT — committing it at the next
    free version would silently revert the intervening write — and
    leave none of its rewritten files behind."""
    path = str(tmp_path / "t")
    write_delta(spark.range(0, 10).repartition(4), path)
    # a real writer commits version 1 "during" the compaction of
    # version 0: pin the compactor's log read to the stale base
    write_delta(spark.range(0, 999), path, mode="overwrite")
    replay = D._replay_state
    monkeypatch.setattr(
        D, "_replay_state", lambda p, v: replay(p, 0 if v is None else v)
    )
    files = _data_files(path)
    with pytest.raises(ValueError, match="already committed"):
        optimize_delta(path, target_rows=1000, now_ms=1)
    monkeypatch.undo()
    assert _data_files(path) == files  # the rewritten files are gone
    # the intervening write is intact, never reverted
    assert read_delta(spark, path).count() == 999
    # and the retry against the new head commits
    assert optimize_delta(path, target_rows=1000, now_ms=2)["version"] == 2
    assert read_delta(spark, path).count() == 999


def test_compact_then_vacuum_drops_small_file_snapshots(spark, tmp_path):
    """The OPTIMIZE+VACUUM lifecycle: compaction leaves both
    snapshots readable; once the small files' tombstones age past
    the retention window, vacuum deletes them, the pre-compaction
    version stops resolving, and the compacted head keeps serving."""
    path = str(tmp_path / "t")
    write_delta(spark.range(0, 50).repartition(6), path)
    optimize_delta(path, target_rows=1000, now_ms=HOUR_MS)
    assert read_delta(spark, path, version=0).count() == 50
    res = vacuum_delta(path, retention_hours=1, now_ms=2 * HOUR_MS,
                       dry_run=False)
    assert res["deleted"] == 6
    with pytest.raises(ValueError, match="not available"):
        read_delta(spark, path, version=0)
    assert read_delta(spark, path).count() == 50
    # exactly one data file remains on disk
    assert _data_files(path) == _live(path) and len(_live(path)) == 1


# ---------------------------------------------------------------------------
# Stats-based data skipping: read_delta(where={column: (lower, upper)}).
# ---------------------------------------------------------------------------


def test_data_skipping_prunes_files_and_loses_no_rows(spark, tmp_path):
    """Min/max add-stats prune: a range-clustered write + a narrow
    range must open a strict subset of files, and the pruned read +
    exact predicate must equal the full-scan answer."""
    path = str(tmp_path / "t")
    df = spark.range(0, 1000).withColumn("k", F.col("id"))
    write_delta(df.repartitionByRange(8, "k"), path)
    assert _n_files(read_delta(spark, path)) == 8
    pruned = read_delta(spark, path, where={"k": (100, 199)})
    assert 1 <= _n_files(pruned) < 8
    got = pruned.filter((F.col("k") >= 100) & (F.col("k") <= 199))
    assert got.count() == 100
    assert got.agg(F.sum("k")).first()[0] == sum(range(100, 200))


def test_data_skipping_half_open_and_empty_ranges(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 400).withColumn("k", F.col("id"))
    write_delta(df.repartitionByRange(4, "k"), path)
    hi_only = read_delta(spark, path, where={"k": (None, 50)})
    assert _n_files(hi_only) < 4
    assert hi_only.filter(F.col("k") <= 50).count() == 51
    lo_only = read_delta(spark, path, where={"k": (350, None)})
    assert _n_files(lo_only) < 4
    assert lo_only.filter(F.col("k") >= 350).count() == 50
    empty = read_delta(spark, path, where={"k": (10_000, None)})
    assert empty.inputFiles() == []
    assert empty.count() == 0
    assert empty.columns == ["id", "k"]
    with pytest.raises(ValueError, match="not a partition column"):
        read_delta(spark, path, where={"typo": (0, 1)})


def test_data_skipping_statless_snapshot_full_scans(spark, tmp_path):
    """An add action without stats for the column (a foreign writer's,
    or a column whose footer has no min/max) is always kept —
    conservative, not an error."""
    path = str(tmp_path / "t")
    write_delta(spark.range(0, 100).repartition(4), path)
    commit = os.path.join(path, "_delta_log", f"{0:020d}.json")
    with open(commit) as fh:
        acts = [json.loads(ln) for ln in fh if ln.strip()]
    adds = [a["add"] for a in acts if "add" in a]
    del adds[0]["stats"]  # a foreign writer's add without stats
    for a in adds[1:]:
        st = json.loads(a["stats"])
        del st["minValues"]["id"], st["maxValues"]["id"]
        a["stats"] = json.dumps(st)
    with open(commit, "w") as fh:
        fh.write("".join(json.dumps(a) + "\n" for a in acts))
    df = read_delta(spark, path, where={"id": (5, 10)})
    assert _n_files(df) == 4
    assert df.count() == 100


def test_data_skipping_survives_compaction_with_stats(spark, tmp_path):
    """OPTIMIZE's rewritten files carry add-stats too, so skipping
    keeps working on the compacted head."""
    path = str(tmp_path / "t")
    df = spark.range(0, 600).withColumn("k", F.col("id"))
    write_delta(df.repartitionByRange(6, "k"), path)
    m = optimize_delta(path, target_rows=300, now_ms=1)
    assert m["files_after"] == 2
    pruned = read_delta(spark, path, where={"k": (0, 10)})
    assert _n_files(read_delta(spark, path)) == 2
    assert _n_files(pruned) == 1
    assert pruned.filter(F.col("k") <= 10).count() == 11


def test_data_skipping_timestamp_column(spark, tmp_path):
    """Timestamp stats are ISO-8601 strings, whose order is
    chronological — prune on a timestamp range."""
    path = str(tmp_path / "t")
    df = spark.range(0, 365).select(
        F.col("id"),
        F.expr("timestampadd(DAY, CAST(id AS INT), timestamp'2024-01-01')")
        .alias("ts"),
    )
    write_delta(df.repartitionByRange(6, "ts"), path)
    pruned = read_delta(
        spark,
        path,
        where={"ts": (datetime.datetime(2024, 6, 1),
                      datetime.datetime(2024, 6, 30))},
    )
    assert 1 <= _n_files(pruned) < 6
    got = pruned.filter(
        (F.col("ts") >= F.lit("2024-06-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-07-01").cast("timestamp"))
    )
    assert got.count() == 30


def test_data_skipping_decimal_column_float_bounds(spark, tmp_path):
    """Float bounds on a decimal column compare by their decimal
    value: 0.1 keeps a file whose max is 0.10, and 0.3 one whose min
    is 0.30, as Spark's ``k >= 0.1 AND k <= 0.3`` matches both."""
    path = str(tmp_path / "t")
    k = (F.col("id") / 100).cast("decimal(10,2)").alias("k")
    for lo, hi in ((0, 10), (11, 29), (30, 40), (50, 60)):
        write_delta(spark.range(lo, hi + 1).select(k).coalesce(1), path)
    pruned = read_delta(spark, path, where={"k": (0.1, 0.3)})
    assert _n_files(pruned) == 3  # only the [0.50, 0.60] file goes
    pred = (F.col("k") >= 0.1) & (F.col("k") <= 0.3)
    assert pruned.filter(pred).count() == 21
    assert read_delta(spark, path).filter(pred).count() == 21

"""Native Delta write/read — sources/delta_native.py."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from datawarehouseproject_spark.sources.delta_native import (
    read_delta,
    write_delta,
)


def _tbl(tmp_path):
    return str(tmp_path / "tbl")


def test_roundtrip_and_overwrite(spark, tmp_path):
    root = _tbl(tmp_path)
    d0 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    assert write_delta(d0, root, now_ms=1) == 0
    d1 = spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    assert write_delta(d1, root, now_ms=2) == 1
    got = read_delta(spark, root)
    assert got.count() == 150
    assert got.agg(F.sum("v")).first()[0] == sum(i * 3 for i in range(150))
    d2 = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    assert write_delta(d2, root, mode="overwrite", now_ms=3) == 2
    assert read_delta(spark, root).count() == 10
    # time travel reads earlier versions unchanged
    assert read_delta(spark, root, 1).count() == 150
    assert read_delta(spark, root, 0).count() == 100
    with pytest.raises(ValueError, match="does not exist"):
        read_delta(spark, root, 9)


def test_pushdown_reaches_scan(spark, tmp_path):
    root = _tbl(tmp_path)
    write_delta(
        spark.range(1000).select(F.col("id").alias("k")), root, now_ms=1
    )
    plan = read_delta(spark, root).filter("k = 7")._jdf \
        .queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,7)]" in plan


def test_log_is_valid_delta_json(spark, tmp_path):
    """The committed log parses as the protocol expects: one action
    per line, protocol/metaData at v0, footer-derived numRecords."""
    root = _tbl(tmp_path)
    write_delta(
        spark.range(57).select(F.col("id").alias("k")), root, now_ms=5
    )
    lines = open(
        os.path.join(root, "_delta_log", f"{0:020d}.json")
    ).read().splitlines()
    acts = [json.loads(ln) for ln in lines if ln.strip()]
    kinds = [next(iter(a)) for a in acts]
    assert kinds[:3] == ["commitInfo", "protocol", "metaData"]
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and sum(
        json.loads(a["stats"])["numRecords"] for a in adds
    ) == 57
    for a in adds:
        assert os.path.exists(os.path.join(root, a["path"]))
        st = json.loads(a["stats"])
        assert st["minValues"]["k"] >= 0
        assert st["maxValues"]["k"] <= 56


def test_checkpoint_from_other_engine_is_loud(spark, tmp_path):
    root = _tbl(tmp_path)
    write_delta(
        spark.range(5).select(F.col("id").alias("k")), root, now_ms=1
    )
    open(os.path.join(root, "_delta_log", "_last_checkpoint"),
         "w").write("{}")
    with pytest.raises(ValueError, match="checkpoint"):
        read_delta(spark, root)


def test_version_gap_rejects(spark, tmp_path):
    root = _tbl(tmp_path)
    write_delta(
        spark.range(5).select(F.col("id").alias("k")), root, now_ms=1
    )
    write_delta(
        spark.range(5).select(F.col("id").alias("k")), root, now_ms=2
    )
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))
    with pytest.raises(ValueError, match="version gaps"):
        read_delta(spark, root)


def test_partitioned_write_and_log_pruning(spark, tmp_path):
    root = _tbl(tmp_path)
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("p"), F.col("id").alias("k"))
    write_delta(df, root, now_ms=1, partition_by=["p"])
    from datawarehouseproject_spark.sources.delta_native import (
        _replay_full,
    )

    live, _, pcols = _replay_full(root, None)
    assert pcols == ["p"]
    assert all(rel.startswith("p=") for rel in live)
    pruned = read_delta(spark, root, where={"p": 3})
    assert pruned.count() == 100
    # LOG-level pruning: only partition-3 files enter the scan
    files = pruned.inputFiles()
    assert files and all("/p=3/" in f for f in files)
    with pytest.raises(ValueError, match="not a partition column"):
        read_delta(spark, root, where={"typo": 1})
    # a range on a partition column keeps every file (add-stats hold
    # no partition values) rather than matching none
    assert read_delta(spark, root, where={"p": (2, 4)}).count() == 1000
    # drifting layout on append rejects
    with pytest.raises(ValueError, match="partition_by drift"):
        write_delta(df, root, mode="append", now_ms=2,
                    partition_by=["k"])


def test_merge_plans_exact_rewrite_set(spark, tmp_path):
    from datawarehouseproject_spark.sources.delta_native import (
        merge_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1,
    )
    ups = spark.range(100, 140).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    ).union(
        spark.range(2000, 2010).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("v"))
    )
    m = merge_delta(root, ups, "k", now_ms=2)
    # keys 100-139 live in at most 2 of the 8 range files; the
    # insert-only keys (2000+) must not inflate the rewrite set
    assert m["files_rewritten"] <= 2
    assert m["files_untouched"] >= 6
    got = read_delta(spark, root)
    assert got.count() == 1010
    assert got.filter("k >= 100 and k < 140").agg(
        F.sum("v")).first()[0] == -40
    assert got.filter("k >= 2000").count() == 10
    assert got.filter("k = 500").first()["v"] == 1000


def test_merge_fences_duplicates_nulls_and_partition_key(
    spark, tmp_path
):
    """ADVICE r13: duplicate update keys raise (real MERGE's
    multiple-source-matches), null keys raise, and a partition-column
    merge key is a loud boundary."""
    from datawarehouseproject_spark.sources.delta_native import (
        merge_delta,
    )

    root = _tbl(tmp_path)
    # nullable schema so the fence-typed updates match the table
    base = spark.createDataFrame(
        [(i, i * 2) for i in range(100)], "k long, v long")
    write_delta(base, root, now_ms=1)
    dup = spark.createDataFrame(
        [(5, 0), (5, 1)], "k long, v long")
    with pytest.raises(ValueError, match="duplicate merge keys"):
        merge_delta(root, dup, "k", now_ms=2)
    mixed = spark.createDataFrame(
        [(5, 0), (None, 1)], "k long, v long")
    with pytest.raises(ValueError, match="null merge keys"):
        merge_delta(root, mixed, "k", now_ms=2)
    allnull = spark.createDataFrame(
        [(None, 1)], "k long, v long")
    with pytest.raises(ValueError, match="null merge keys"):
        merge_delta(root, allnull, "k", now_ms=2)
    root2 = str(tmp_path / "tbl2")
    write_delta(
        spark.range(10).select(
            (F.col("id") % 2).alias("p"), F.col("id").alias("k"),
            F.lit(0).cast("long").alias("v")),
        root2, now_ms=1, partition_by=["p"],
    )
    ups2 = spark.createDataFrame([(0, 3, 9)], "p long, k long, v long")
    with pytest.raises(ValueError, match="partition column"):
        merge_delta(root2, ups2, "p", now_ms=2)


def test_partitioned_merge_routes_by_partition_first(spark, tmp_path):
    """Round 14 (VERDICT item 2): MERGE into a partitioned table —
    untouched partitions' files NEVER enter the rewrite set even
    when their key windows overlap the update keys."""
    import json as _json

    from datawarehouseproject_spark.sources.delta_native import (
        merge_delta,
    )

    root = _tbl(tmp_path)
    # every partition holds the SAME key range 0..249, so a planner
    # ignoring partitions would rewrite files in all four partitions
    base = spark.range(1000).select(
        (F.col("id") / 250).cast("long").alias("p"),
        (F.col("id") % 250).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    write_delta(base, root, now_ms=1, partition_by=["p"])
    # updates: matched keys 100..119 in p=0 ONLY + inserts in a NEW
    # partition p=9
    ups = spark.range(100, 120).select(
        F.lit(0).cast("long").alias("p"),
        F.col("id").alias("k"),
        F.lit(-1).cast("long").alias("v"),
    ).unionByName(spark.range(5).select(
        F.lit(9).cast("long").alias("p"),
        F.col("id").alias("k"),
        F.lit(7).cast("long").alias("v"),
    ))
    m = merge_delta(root, ups, "k", now_ms=2)
    assert m["files_rewritten"] >= 1
    # the rewrite set stays inside p=0: every removed path proves it
    log = open(os.path.join(
        root, "_delta_log", f"{1:020d}.json")).read().splitlines()
    removes = [
        _json.loads(ln)["remove"]["path"] for ln in log
        if '"remove"' in ln
    ]
    assert removes and all(r.startswith("p=0/") for r in removes)
    got = read_delta(spark, root)
    assert got.count() == 1005
    assert got.filter("p = 0 and k between 100 and 119").agg(
        F.sum("v")).first()[0] == -20
    # the SAME keys in p=1 are untouched: v = (250 + k) * 2
    assert got.filter("p = 1 and k between 100 and 119").agg(
        F.sum("v")).first()[0] == sum((250 + k) * 2
                                      for k in range(100, 120))
    assert got.filter("p = 9").count() == 5
    assert got.filter("p = 2 and k = 5").first()["v"] == 1010
    # log-level pruning still exact after the merge
    assert read_delta(spark, root, where={"p": 2}).count() == 250


def test_partitioned_delete_is_log_level_partition_drop(
    spark, tmp_path
):
    """Round 14: DELETE on a partition column tombstones whole
    partitions with ZERO rewrite (files_added == 0) — the
    retention-delete shape."""
    from datawarehouseproject_spark.sources.delta_native import (
        delete_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        (F.col("id") % 5).alias("p"),
        F.col("id").alias("k"),
    )
    write_delta(base, root, now_ms=1, partition_by=["p"])
    d = delete_delta(root, "p", 1, 2, now_ms=2)
    assert d["files_added"] == 0
    assert d["files_rewritten"] >= 2
    got = read_delta(spark, root)
    assert got.count() == 600
    assert got.filter("p in (1, 2)").count() == 0
    # data-column delete on a partitioned table rewrites in place
    d2 = delete_delta(root, "k", 0, 99, now_ms=3)
    got2 = read_delta(spark, root)
    assert got2.count() == 600 - got.filter("k < 100").count()
    assert d2["files_added"] >= 1


def test_partitioned_optimize_packs_within_partitions(
    spark, tmp_path
):
    """Round 14 (VERDICT items 2+7): OPTIMIZE on a partitioned table
    bin-packs via plan_compaction PER PARTITION — no group crosses a
    Hive partition, rows are invariant, metrics match the plan."""
    import json as _json

    from datawarehouseproject_spark.sources.delta_native import (
        optimize_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        (F.col("id") % 4).alias("p"),
        F.col("id").alias("k"),
    )
    write_delta(base.repartition(8), root, now_ms=1,
                partition_by=["p"])
    before = read_delta(spark, root)
    n_before = len(before.inputFiles())
    sum_before = before.agg(F.sum("k")).first()[0]
    m = optimize_delta(root, target_rows=500, now_ms=2)
    assert m["files_removed"] > m["files_added"]
    after = read_delta(spark, root)
    assert after.count() == 1000
    assert after.agg(F.sum("k")).first()[0] == sum_before
    assert len(after.inputFiles()) == m["files_after"] < n_before
    # every rewritten file stays inside one partition dir and its
    # add action records that partition
    log = open(os.path.join(
        root, "_delta_log", f"{1:020d}.json")).read().splitlines()
    for ln in log:
        act = _json.loads(ln)
        kind = next(iter(act))
        if kind == "add":
            rel = act["add"]["path"]
            pv = act["add"]["partitionValues"]
            assert rel.startswith(f"p={pv['p']}/")
            assert act["add"]["dataChange"] is False
        elif kind == "remove":
            assert act["remove"]["dataChange"] is False
    # partition pruning still exact after optimize
    assert read_delta(spark, root, where={"p": 3}).count() == 250


def test_optimize_compacts_without_changing_rows(spark, tmp_path):
    from datawarehouseproject_spark.sources.delta_native import (
        optimize_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(base.repartition(16), root, now_ms=1)
    before = read_delta(spark, root).agg(
        F.sum("v"), F.count("*")).first()
    m = optimize_delta(root, target_rows=300, now_ms=2)
    assert m["files_before"] == 16
    assert m["files_after"] < 16 // 2
    after = read_delta(spark, root)
    assert after.agg(F.sum("v"), F.count("*")).first() == before
    assert len(after.inputFiles()) == m["files_after"]
    # every OPTIMIZE action carries dataChange=false
    import json as _json
    import os as _os

    log = open(_os.path.join(
        root, "_delta_log", f"{1:020d}.json")).read().splitlines()
    for ln in log:
        act = _json.loads(ln)
        kind = next(iter(act))
        if kind in ("add", "remove"):
            assert act[kind]["dataChange"] is False
    # a second optimize at the same target is a near-no-op: no
    # multi-file group remains at this packing
    m2 = optimize_delta(root, target_rows=300, now_ms=3)
    assert m2["files_removed"] <= m["files_after"]


def test_delete_range_and_vacuum(spark, tmp_path):
    from datawarehouseproject_spark.sources.delta_native import (
        delete_delta,
        vacuum_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1000,
    )
    d = delete_delta(root, "k", 100, 299, now_ms=2000)
    # keys 100-299 live in at most 3 of the 8 range files
    assert d["files_rewritten"] <= 3
    assert d["files_untouched"] >= 5
    got = read_delta(spark, root)
    assert got.count() == 800
    assert got.filter("k between 100 and 299").count() == 0
    # a fully-deleted file is a pure remove: adds < removes is legal
    # dry run deletes nothing
    v = vacuum_delta(root, retention_hours=0, now_ms=10_000_000_000)
    assert v["deleted"] == 0 and v["eligible"] == d["files_rewritten"]
    v2 = vacuum_delta(root, retention_hours=0, now_ms=10_000_000_000,
                      dry_run=False)
    assert v2["deleted"] == v["eligible"]
    # the latest version is unaffected; version 0 now fails LOUDLY
    assert read_delta(spark, root).count() == 800
    with pytest.raises(ValueError, match="not available"):
        read_delta(spark, root, 0)
    # unaged tombstones stay
    root2 = str(tmp_path / "tbl2")
    write_delta(base, root2, now_ms=1000)
    delete_delta(root2, "k", 0, 10, now_ms=5_000_000_000)
    v3 = vacuum_delta(root2, retention_hours=168,
                      now_ms=5_000_000_001)
    assert v3["eligible"] == 0


def test_checkpoint_write_replay_and_time_travel(spark, tmp_path):
    """Round 14 (VERDICT item 3): a 22-commit log with
    checkpoint_every=10 — replay starts from the v20 checkpoint,
    time travel below it stays exact while the JSONs remain, and a
    cleaned pre-checkpoint JSON only breaks reads that need it."""
    root = _tbl(tmp_path)
    for i in range(22):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
            root, now_ms=i + 1, checkpoint_every=10,
        )
    log_dir = os.path.join(root, "_delta_log")
    cps = [n for n in os.listdir(log_dir)
           if n.endswith(".checkpoint.parquet")]
    # v10's checkpoint was superseded and deleted; only v20 remains
    assert cps == [f"{20:020d}.checkpoint.parquet"]
    lc = json.loads(
        open(os.path.join(log_dir, "_last_checkpoint")).read())
    assert lc["version"] == 20
    assert read_delta(spark, root).count() == 220
    assert read_delta(spark, root, 4).count() == 50
    assert read_delta(spark, root, 20).count() == 210
    # a read at/above the checkpoint never touches early JSONs
    os.remove(os.path.join(log_dir, f"{3:020d}.json"))
    assert read_delta(spark, root).count() == 220
    assert read_delta(spark, root, 21).count() == 220
    with pytest.raises(ValueError, match="missing"):
        read_delta(spark, root, 4)
    # but a version the retained prefix still covers reads fine
    assert read_delta(spark, root, 2).count() == 30


def test_checkpoint_decodable_by_forensics_reader(spark, tmp_path):
    """Cross-check (VERDICT item 3): the forensics reader
    (functions/delta_log.py:_replay_log) decodes the NATIVE writer's
    checkpoint — live set, checkpoint version, and post-checkpoint
    replay all agree."""
    from datawarehouseproject_spark.functions.delta_log import (
        _replay_log,
    )
    from datawarehouseproject_spark.sources.delta_native import (
        _replay_state,
        checkpoint_delta,
        delete_delta,
    )

    root = _tbl(tmp_path)
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    write_delta(df.repartition(4), root, now_ms=1)
    write_delta(
        spark.range(40, 60).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")),
        root, now_ms=2,
    )
    delete_delta(root, "k", 0, 9, now_ms=3)  # creates tombstones
    cp = checkpoint_delta(root)
    assert cp["version"] == 2 and cp["tombstones"] >= 1
    write_delta(
        spark.range(60, 70).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")),
        root, now_ms=4,
    )
    log_dir = os.path.join(root, "_delta_log")
    files = {
        f"_delta_log/{n}": open(os.path.join(log_dir, n), "rb").read()
        for n in os.listdir(log_dir)
    }
    state, cp_version, current, replayed, at_cp = _replay_log(
        files, require_stats=False
    )
    snap = _replay_state(root, None)
    assert set(state.adds) == set(snap["live"])
    assert cp_version == 2 and current == 3 and replayed == 1
    assert at_cp == cp["live"]  # checkpointed live set decoded whole


def test_vacuum_idempotent_and_live_missing_is_loud(spark, tmp_path):
    """ADVICE r13: repeated VACUUM (the normal maintenance pattern)
    never raises on already-deleted tombstones; the loud error is
    reserved for a LIVE file missing from the table."""
    from datawarehouseproject_spark.sources.delta_native import (
        delete_delta,
        vacuum_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1000,
    )
    delete_delta(root, "k", 100, 299, now_ms=2000)
    v1 = vacuum_delta(root, retention_hours=0,
                      now_ms=10_000_000_000, dry_run=False)
    assert v1["deleted"] == v1["eligible"] > 0
    # second executed run AND a later dry run are clean no-ops
    v2 = vacuum_delta(root, retention_hours=0,
                      now_ms=10_000_000_000, dry_run=False)
    assert v2["deleted"] == 0
    assert v2["already_gone"] == v2["eligible"] == v1["eligible"]
    v3 = vacuum_delta(root, retention_hours=0, now_ms=10_000_000_000)
    assert v3["deleted"] == 0 and v3["already_gone"] == v3["eligible"]
    # a missing LIVE file is real corruption: loud
    live_rel = sorted(
        f for f in os.listdir(root)
        if f.endswith(".parquet") and os.path.exists(
            os.path.join(root, f))
    )
    read_files = read_delta(spark, root).inputFiles()
    victim = sorted(read_files)[0].replace("file://", "")
    os.remove(victim)
    with pytest.raises(ValueError, match="live file"):
        vacuum_delta(root, retention_hours=0, now_ms=10_000_000_000)
    del live_rel


def test_commit_conflict_cleans_placed_files(spark, tmp_path):
    """ADVICE r13: a lost commit race removes its own staged data
    files (no permanent orphans) and never rename-overs the winning
    commit."""
    from datawarehouseproject_spark.sources.delta_native import (
        _commit,
    )

    root = _tbl(tmp_path)
    write_delta(
        spark.range(10).select(F.col("id").alias("k")), root, now_ms=1
    )
    log_dir = os.path.join(root, "_delta_log")
    winner = os.path.join(log_dir, f"{1:020d}.json")
    open(winner, "w").write('{"commitInfo": {"operation": "WRITE"}}\n')
    placed_rel = "part-00001-99999.parquet"
    open(os.path.join(root, placed_rel), "wb").write(b"loser bytes")
    with pytest.raises(ValueError, match="already committed"):
        _commit(root, 1, ['{"commitInfo": {}}'], [(placed_rel, {})])
    assert not os.path.exists(os.path.join(root, placed_rel))
    # the winner's commit content is untouched
    assert "WRITE" in open(winner).read()
    assert not [n for n in os.listdir(log_dir)
                if n.startswith(".tmp")]


def test_append_schema_drift_is_loud_and_evolution_is_sanctioned(
    spark, tmp_path
):
    """Round 14: a drifted append loud-rejects (the schema-pinned
    reader would silently null the missing columns otherwise);
    overwrite with allow_schema_change=True evolves the table —
    latest reads use the new schema, time travel below the change
    resolves the OLD one, and the table id stays permanent."""
    from datawarehouseproject_spark.sources.delta_native import (
        _replay_state,
    )

    root = _tbl(tmp_path)
    write_delta(
        spark.range(20).select(F.col("id").alias("k")), root, now_ms=1
    )
    drifted = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("extra"))
    with pytest.raises(ValueError, match="write schema differs"):
        write_delta(drifted, root, now_ms=2)
    with pytest.raises(ValueError, match="requires mode='overwrite'"):
        write_delta(drifted, root, now_ms=2,
                    allow_schema_change=True)
    id_before = _replay_state(root, None)["meta"]["id"]
    write_delta(drifted, root, mode="overwrite", now_ms=3,
                allow_schema_change=True)
    got = read_delta(spark, root)
    assert set(got.columns) == {"k", "extra"}
    assert got.count() == 5
    old = read_delta(spark, root, 0)
    assert old.columns == ["k"] and old.count() == 20
    assert _replay_state(root, None)["meta"]["id"] == id_before
    # a partitioned table cannot drop its partition column
    root2 = str(tmp_path / "tbl2")
    write_delta(
        spark.range(10).select(
            (F.col("id") % 2).alias("p"), F.col("id").alias("k")),
        root2, now_ms=1, partition_by=["p"],
    )
    with pytest.raises(ValueError, match="partition column"):
        write_delta(
            spark.range(3).select(F.col("id").alias("k")),
            root2, mode="overwrite", now_ms=2,
            allow_schema_change=True,
        )


def test_optimize_metrics_match_plan_compaction(spark, tmp_path):
    """Round 14 (VERDICT item 7): the OPTIMIZE commit's
    operationMetrics equal exactly what plan_compaction's
    needs_compaction groups predict — the planner IS the executor's
    grouping."""
    import json as _json

    from datawarehouseproject_spark.operators.maintenance import (
        plan_compaction,
    )
    from datawarehouseproject_spark.sources.delta_native import (
        _replay_state,
        optimize_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(900).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(base.repartition(9), root, now_ms=1)
    snap = _replay_state(root, None)
    inv = spark.createDataFrame(
        [("{}", rel,
          _json.loads(b["stats"])["numRecords"])
         for rel, b in sorted(snap["live"].items())],
        "part string, rel string, rows long",
    )
    plan = plan_compaction(inv, 250, table_col="part",
                           path_col="rel", weight_col="rows")
    picked = plan.filter("needs_compaction")
    expect_removed = picked.count()
    expect_added = picked.select("group_id").distinct().count()
    m = optimize_delta(root, target_rows=250, now_ms=2)
    assert m["files_removed"] == expect_removed
    assert m["files_added"] == expect_added
    log = open(os.path.join(
        root, "_delta_log", f"{1:020d}.json")).read().splitlines()
    ci = _json.loads(log[0])["commitInfo"]["operationMetrics"]
    assert int(ci["numRemovedFiles"]) == expect_removed
    assert int(ci["numAddedFiles"]) == expect_added


def test_corrupt_checkpoint_quarantines_as_valueerror(
    spark, tmp_path
):
    """Round 14 quarantine-escape class: a truncated/garbage
    checkpoint parquet must land as ValueError, never ArrowInvalid/
    OSError."""
    from datawarehouseproject_spark.sources.delta_native import (
        checkpoint_delta,
    )

    root = _tbl(tmp_path)
    write_delta(
        spark.range(10).select(F.col("id").alias("k")), root, now_ms=1
    )
    checkpoint_delta(root)
    cp = os.path.join(root, "_delta_log",
                      f"{0:020d}.checkpoint.parquet")
    blob = open(cp, "rb").read()
    for mutant in (blob[: len(blob) // 2], b"not parquet", b""):
        open(cp, "wb").write(mutant)
        with pytest.raises(ValueError):
            read_delta(spark, root)
    # size-disagreeing but valid parquet also quarantines
    open(cp, "wb").write(blob)
    lc = os.path.join(root, "_delta_log", "_last_checkpoint")
    open(lc, "w").write(json.dumps({"version": 0, "size": 999}))
    with pytest.raises(ValueError, match="size disagrees"):
        read_delta(spark, root)


def test_table_changes_version_diff(spark, tmp_path):
    """Round 14: delta_table_changes reads ONLY the between-version
    file churn — updates surface as delete+insert pairs, untouched
    rows never appear, and a dataChange=false OPTIMIZE between the
    versions reports zero changes."""
    from datawarehouseproject_spark.sources.delta_native import (
        delta_table_changes,
        merge_delta,
        optimize_delta,
    )

    root = _tbl(tmp_path)
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(
        base.repartitionByRange(8, "k").sortWithinPartitions("k"),
        root, now_ms=1,
    )  # v0
    ups = spark.range(100, 110).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    ).union(spark.range(5000, 5003).select(
        F.col("id").alias("k"), F.lit(7).cast("long").alias("v")))
    merge_delta(root, ups, "k", now_ms=2)  # v1
    ch = delta_table_changes(spark, root, 0, 1)
    ins = ch.filter("_change_type = 'insert'")
    dels = ch.filter("_change_type = 'delete'")
    # inserts: 10 new images of updated keys + 3 brand-new keys
    assert ins.count() == 13
    assert dels.count() == 10  # old images of the updated keys
    assert ins.filter("k >= 5000").count() == 3
    assert dels.agg(F.sum("v")).first()[0] == sum(
        2 * k for k in range(100, 110))
    # v0 -> v0 is empty; OPTIMIZE-only diffs are empty
    assert delta_table_changes(spark, root, 0, 0).count() == 0
    optimize_delta(root, target_rows=600, now_ms=3)  # v2
    assert delta_table_changes(spark, root, 1, 2).count() == 0
    with pytest.raises(ValueError, match="must not exceed"):
        delta_table_changes(spark, root, 1, 0)
    # diffs across a schema change are a loud boundary
    write_delta(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit(1).alias("extra")),
        root, mode="overwrite", now_ms=4, allow_schema_change=True,
    )  # v3
    with pytest.raises(ValueError, match="schema changed"):
        delta_table_changes(spark, root, 2, 3)


def test_timestamp_as_of(spark, tmp_path):
    """Round 14: read_delta(timestamp_ms=...) resolves the LAST
    version committed at or before the timestamp (real Delta's
    timestampAsOf), loud before the retained log."""
    root = _tbl(tmp_path)
    for i, ms in enumerate((1000, 2000, 3000)):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k")),
            root, now_ms=ms,
        )
    assert read_delta(spark, root, timestamp_ms=1000).count() == 10
    assert read_delta(spark, root, timestamp_ms=2500).count() == 20
    assert read_delta(spark, root, timestamp_ms=99999).count() == 30
    with pytest.raises(ValueError, match="precedes"):
        read_delta(spark, root, timestamp_ms=999)
    with pytest.raises(ValueError, match="not both"):
        read_delta(spark, root, version=1, timestamp_ms=2000)


def test_clean_log_bounds_the_json_tail(spark, tmp_path):
    """Round 14: clean_log_delta removes the checkpointed JSON
    prefix — the replay count stays bounded, reads at/above the
    checkpoint are unaffected, below it the retention contract is a
    loud boundary, and cleanup without a checkpoint refuses."""
    from datawarehouseproject_spark.sources.delta_native import (
        checkpoint_delta,
        clean_log_delta,
    )

    root = _tbl(tmp_path)
    for i in range(15):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).select(
                F.col("id").alias("k")),
            root, now_ms=i + 1, checkpoint_every=10,
        )
    r = clean_log_delta(root)
    assert r == {"checkpoint_version": 10, "removed_commits": 11,
                 "remaining_commits": 4}
    assert read_delta(spark, root).count() == 150
    assert read_delta(spark, root, 10).count() == 110
    assert read_delta(spark, root, 12).count() == 130
    with pytest.raises(ValueError, match="missing"):
        read_delta(spark, root, 9)
    # a table with no checkpoint refuses cleanup
    root2 = str(tmp_path / "tbl2")
    write_delta(
        spark.range(5).select(F.col("id").alias("k")), root2, now_ms=1
    )
    with pytest.raises(ValueError, match="checkpoint"):
        clean_log_delta(root2)


def test_zorder_rewrite_tightens_both_dimensions(spark, tmp_path):
    """Round 14: OPTIMIZE ZORDER BY — rows invariant, and the
    per-file stats windows after the rewrite bound BOTH dimensions
    (total span product collapses vs the linear layout)."""
    from datawarehouseproject_spark.sources.delta_native import (
        _replay_state,
        zorder_delta,
    )

    root = _tbl(tmp_path)
    # x-sorted layout: each file spans ALL of y
    base = spark.range(65536).select(
        (F.col("id") % 256).alias("x"),
        ((F.col("id") * 2654435761) % 256).alias("y"),
        F.col("id").alias("payload"),
    )
    write_delta(
        base.repartitionByRange(16, "x").sortWithinPartitions("x"),
        root, now_ms=1,
    )

    def windows():
        snap = _replay_state(root, None)
        out = []
        for rel, body in snap["live"].items():
            st = json.loads(body["stats"])
            out.append((
                st["minValues"]["x"], st["maxValues"]["x"],
                st["minValues"]["y"], st["maxValues"]["y"],
            ))
        return out

    def skipped_for_y_slice(win, lo, hi):
        # files a min/max-pruning reader would SKIP for y in [lo,hi]
        return sum(1 for _x0, _x1, y0, y1 in win if y1 < lo or y0 > hi)

    before = windows()
    # the x-sorted layout cannot prune on y: every file spans all 256
    assert skipped_for_y_slice(before, 0, 31) == 0
    sum_before = read_delta(spark, root).agg(
        F.sum("payload")).first()[0]
    m = zorder_delta(root, ["x", "y"], target_rows=4096, now_ms=2)
    after = windows()
    got = read_delta(spark, root)
    assert got.count() == 65536
    assert got.agg(F.sum("payload")).first()[0] == sum_before
    # z-order balances the per-dimension spans: the same y-slice now
    # skips most files, and the mean y-span collapses
    assert skipped_for_y_slice(after, 0, 31) >= len(after) // 2
    mean_span_y = lambda w: sum(  # noqa: E731
        y1 - y0 + 1 for _x0, _x1, y0, y1 in w) / len(w)
    assert mean_span_y(after) < mean_span_y(before) / 2
    assert m["files_after"] == len(after)
    # dataChange=false on every action
    log = open(os.path.join(
        root, "_delta_log", f"{1:020d}.json")).read().splitlines()
    for ln in log[1:]:
        act = json.loads(ln)
        assert act[next(iter(act))]["dataChange"] is False
    with pytest.raises(ValueError, match="at least one"):
        zorder_delta(root, [], 100)


def test_stream_merge_delta_sink(spark, tmp_path):
    """Round 14: streaming CDC-style upsert into a native Delta
    table — one MERGE per micro-batch (maxFilesPerTrigger=1), the
    log shows the WRITE + MERGE progression, and the final table is
    the last-write-wins union."""
    import json as _json

    from datawarehouseproject_spark.streaming.upsert_stream import (
        stream_merge_delta,
    )
    from pyspark.sql import types as T

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    # three landing files = three micro-batches
    spark.createDataFrame(
        [(i, i) for i in range(100)], schema
    ).coalesce(1).write.parquet(src)
    spark.createDataFrame(
        [(i, -i) for i in range(50, 120)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(i, 777) for i in range(110, 130)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream_merge_delta(spark, src, schema, tbl, "k", cp,
                       now_ms_base=1000)
    got = read_delta(spark, tbl)
    assert got.count() == 130
    # batch order is file mtime order: batch2 overwrote 110..119
    assert got.filter("k between 110 and 129").agg(
        F.sum("v")).first()[0] == 777 * 20
    assert got.filter("k < 50").agg(F.sum("v")).first()[0] \
        == sum(range(50))
    ops = []
    log_dir = os.path.join(tbl, "_delta_log")
    for n in sorted(os.listdir(log_dir)):
        if n.endswith(".json"):
            first = _json.loads(open(
                os.path.join(log_dir, n)).readline())
            ops.append(first["commitInfo"]["operation"])
    assert ops == ["WRITE", "MERGE", "MERGE"]


def test_write_delta_split_matches_the_loop(spark, tmp_path):
    """r14 optimization: write_delta_split (one staged job, one
    commit per split value) must produce the same log structure and
    replayed rows as the per-value write_delta loop it replaces."""
    import pytest
    from datawarehouseproject_spark.sources.delta_native import (
        write_delta_split,
    )

    src = spark.range(0, 130).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    loop_root = str(tmp_path / "loop")
    for r in range(7):
        write_delta(src.filter(F.col("k") % 7 == r), loop_root,
                    now_ms=100 + r, checkpoint_every=3)
    split_root = str(tmp_path / "split")
    last = write_delta_split(
        src.withColumn("r", F.col("k") % 7), split_root, "r",
        values=list(range(7)), now_ms=100, checkpoint_every=3)
    assert last == 6
    # same replayed rows at every version (time travel included)
    for ver in (0, 3, 6, None):
        a = sorted(read_delta(spark, loop_root, ver).collect())
        b = sorted(read_delta(spark, split_root, ver).collect())
        assert a == b
    # same log shape: commit count, checkpoint placement, and the
    # per-commit add/action structure
    for root in (loop_root, split_root):
        log_dir = os.path.join(root, "_delta_log")
        jsons = sorted(n for n in os.listdir(log_dir)
                       if n.endswith(".json") and n[0] != "_")
        assert len(jsons) == 7
        cps = [n for n in os.listdir(log_dir)
               if n.endswith(".checkpoint.parquet")]
        assert cps == [f"{6:020d}.checkpoint.parquet"]

    def acts(root, ver):
        p = os.path.join(root, "_delta_log", f"{ver:020d}.json")
        return [next(iter(json.loads(ln)))
                for ln in open(p) if ln.strip()]

    for ver in range(7):
        assert acts(loop_root, ver) == acts(split_root, ver)
    # boundary: split-create over an existing table loud-rejects
    with pytest.raises(ValueError, match="only creates"):
        write_delta_split(
            src.withColumn("r", F.col("k") % 7), split_root, "r",
            values=list(range(7)))


def test_write_delta_split_rejects_empty_split_and_cleans_staging(
    spark, tmp_path
):
    """ADVICE r14: a declared value with no staged rows must raise
    loudly (the write_delta loop writes one empty parquet per commit
    — a zero-add commit would silently diverge from its log shape),
    and a failed run must not leave a .staging-* directory behind."""
    import pytest
    from datawarehouseproject_spark.sources.delta_native import (
        write_delta_split,
    )

    src = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    root = str(tmp_path / "t")
    with pytest.raises(ValueError, match="no staged rows"):
        write_delta_split(
            src.withColumn("r", F.col("k") % 4), root, "r",
            values=[0, 1, 2, 3, 9], now_ms=100)
    leftovers = [n for n in os.listdir(root) if n.startswith(".staging")]
    assert leftovers == []
    # nothing was committed either
    assert not os.path.exists(os.path.join(root, "_delta_log"))


def test_timestamp_column_add_stats_record_min_max(spark, tmp_path):
    """Spark writes INT96 timestamps by default, whose footers carry
    no min/max. The staging write switches to INT64 micros for the
    write only, so a timestamp column gets add-stats — as ISO-8601
    strings, whose order is chronological — and the session's setting
    comes back unchanged."""
    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key, None)
    root = _tbl(tmp_path)
    df = spark.range(3).select(
        F.col("id"),
        F.expr("timestampadd(HOUR, CAST(id AS INT), "
               "timestamp'2024-03-01 10:00:00')").alias("ts"),
        F.expr("date_add(date'2024-03-01', CAST(id AS INT))").alias("d"),
    )
    write_delta(df.coalesce(1), root, now_ms=1)
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json")) as fh:
        (add,) = [json.loads(ln)["add"] for ln in fh if '"add"' in ln]
    st = json.loads(add["stats"])
    assert st["minValues"]["ts"] == "2024-03-01T10:00:00"
    assert st["maxValues"]["ts"] == "2024-03-01T12:00:00"
    assert st["minValues"]["d"] == "2024-03-01"
    assert st["maxValues"]["d"] == "2024-03-03"
    assert spark.conf.get(key, None) == before
    assert sorted(r["ts"] for r in read_delta(spark, root).collect()) == \
        sorted(r["ts"] for r in df.collect())

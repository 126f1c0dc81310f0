"""The engine's Python worker daemon: zip importers re-read their
archive only when it changes, each task runs with the worker's
long-lived heap frozen, and Spark's workers really run under it."""

from __future__ import annotations

import gc
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest
from pyspark import daemon

from datawarehouseproject_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEFORE_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ reads zip directories lazily"
)


def _write_zip(path, extra: bool = False) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("dwzippkg/__init__.py", "")
        zf.writestr("dwzippkg/sub/__init__.py", "")
        zf.writestr("dwzippkg/sub/mod.py", "X = 1\n")
        if extra:
            zf.writestr("dwzippkg/sub/extra.py", "Y = 2\n" * 64)


@pytest.fixture
def restore_daemon(monkeypatch):
    """install() rebinds the daemon's task entry point; undo it."""
    monkeypatch.setattr(daemon, "worker_main", daemon.worker_main)
    monkeypatch.setattr(pydaemon, "_task_main", pydaemon._task_main)


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A zip package imported from sys.path; yields the archive path."""
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive)
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("dwzippkg.sub.mod")
    yield archive
    for name in [m for m in sys.modules if m.startswith("dwzippkg")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@BEFORE_313
def test_unchanged_archive_is_not_reread(zip_package, monkeypatch, restore_daemon):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pydaemon.install()
    importers = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == zip_package
    ]
    assert len(importers) >= 2  # the archive root and dwzippkg/sub

    reads = _count_reads(monkeypatch, zip_package)
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(zip_package, extra=True)  # a different size
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == len(importers)
    assert importlib.import_module("dwzippkg.sub.extra").Y == 2


def test_from_313_zipimport_is_left_alone(monkeypatch, restore_daemon):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", original
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_worker_entry_point_is_installed_from_313_too(monkeypatch, restore_daemon):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    task_main = daemon.worker_main
    pydaemon.install()
    assert daemon.worker_main is pydaemon.worker_main
    assert pydaemon._task_main is task_main
    pydaemon.install()  # a second install never wraps the wrapper
    assert pydaemon._task_main is task_main


def test_worker_main_freezes_before_the_task(monkeypatch):
    seen = []

    def task_main(infile, outfile):
        seen.append((infile, outfile, gc.get_freeze_count()))

    monkeypatch.setattr(pydaemon, "_task_main", task_main)
    gc.unfreeze()
    try:
        pydaemon.worker_main("in", "out")
    finally:
        gc.unfreeze()
    assert seen[0][:2] == ("in", "out") and seen[0][2] > 0


def _single_task_reports(spark, probe, schema: str, enough, most: int) -> list:
    """Rows of one-task jobs, run until ``enough(rows)`` or ``most``
    jobs. Spark hands idle workers out oldest first, so a worker runs
    its next task only after every other idle worker has had one."""
    rows: list = []
    while len(rows) < most and not enough(rows):
        rows += spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
    return rows


def test_tasks_run_with_the_long_lived_heap_frozen(spark):
    def freeze_count(it):  # nested: pickled by value, not by module
        import gc

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({"n": [gc.get_freeze_count()]})

    got = spark.range(4, numPartitions=2).mapInPandas(freeze_count, "n long")
    counts = [r.n for r in got.collect()]
    assert len(counts) == 2 and min(counts) > 0


def test_a_cycle_a_task_drops_is_collected_before_the_next_task(spark):
    def probe(it):
        import os
        import sys
        import weakref

        import pandas as pd

        for _ in it:
            pass
        # the previous task's cycle, seen through a weakref the worker kept
        prev = getattr(sys, "_dw_test_cycle", None)

        class Node:
            pass

        a, b = Node(), Node()
        a.other, b.other = b, a
        sys._dw_test_cycle = (os.getpid(), weakref.ref(a))
        del a, b
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "prev_pid": [prev[0] if prev else -1],
            "prev_dead": [prev is not None and prev[1]() is None],
        })

    def reused_of(rows):
        return [r for r in rows if r.prev_pid == r.pid]

    rows = _single_task_reports(
        spark, probe, "pid long, prev_pid long, prev_dead boolean",
        lambda rows: len(reused_of(rows)) >= 4, 80,
    )
    reused = reused_of(rows)
    if not reused:
        pytest.skip("no task ran in the worker of an earlier task")
    assert all(r.prev_dead for r in reused), rows


def test_frozen_heap_plateaus_over_many_tasks(spark):
    def probe(it):
        import gc
        import os

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "n": [gc.get_freeze_count()]})

    def runs(rows):
        by_pid: dict[int, list[int]] = {}
        for r in rows:
            by_pid.setdefault(r.pid, []).append(r.n)
        # a worker's first task here may be its first ever, which
        # imports and caches; each later task is one step
        return [c[1:] for c in by_pid.values() if len(c) >= 3]

    rows = _single_task_reports(
        spark, probe, "pid long, n long",
        lambda rows: sum(len(c) - 1 for c in runs(rows)) >= 20, 120,
    )
    steps = sum(len(c) - 1 for c in runs(rows))
    if steps < 20:
        pytest.skip(f"{len(rows)} tasks over {len({r.pid for r in rows})} workers")
    # a per-task leak into the frozen heap adds at least one object per step
    assert all(c[0] > 0 for c in runs(rows)), rows
    assert sum(c[-1] - c[0] for c in runs(rows)) < steps, rows


@BEFORE_313
def test_spark_workers_run_under_the_engine_daemon(spark):
    def daemon_of_worker(it):  # nested: pickled by value, not by module
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    got = spark.range(4, numPartitions=2).mapInPandas(daemon_of_worker, "m string")
    assert {r.m for r in got.collect()} == {"datawarehouseproject_spark.pydaemon"}


@BEFORE_313
def test_python_udfs_run_outside_the_repo(tmp_path):
    """The daemon is imported from the package's directory, not the
    cwd: a driver started elsewhere, with PYTHONPATH unset and the
    repo only on its own sys.path, still runs Python workers."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from datawarehouseproject_spark.session import get_spark

        def f(it):
            import zipimport
            import pandas as pd
            for _ in it:
                pass
            yield pd.DataFrame(
                {{"m": [zipimport.zipimporter.invalidate_caches.__module__]}}
            )

        spark = get_spark("outside", master="local[1]", shuffle_partitions=1)
        rows = spark.range(2, numPartitions=1).mapInPandas(f, "m string").collect()
        print("DAEMON=" + rows[0].m)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "DAEMON=datawarehouseproject_spark.pydaemon" in out.stdout

"""The engine's Python worker daemon: zip importers re-read their
archive only when it changes, and Spark's workers really run under it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

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
def test_unchanged_archive_is_not_reread(zip_package, monkeypatch):
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


def test_from_313_zipimport_is_left_alone(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", original
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


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

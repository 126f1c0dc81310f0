"""Python worker daemon for local masters: ``pyspark.daemon`` without
the per-task re-read of ``pyspark.zip``.

Every task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``, and before CPython 3.13
each cached ``zipimporter`` (one per package directory in the zip)
re-reads the archive's whole central directory on that call: 100-200
ms of CPU per task. :func:`install` makes a ``zipimporter`` re-read
only when its archive's ``(st_mtime_ns, st_size)`` differs from its
last read. Spark forks its workers from this daemon, so they inherit
the fix; from 3.13 on the daemon is plain ``pyspark.daemon``.

Selected by ``session.get_spark`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed
    since this importer last read it."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None:
            self._files = files
            return
    # stamp first, read second: a write in between leaves an old stamp,
    # so the next call reads again
    _reread(self)
    self._archive_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (before 3.13 only) and
    stamp every zip importer already cached, so a forked worker's
    first task skips the re-read too."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Run with -m this file is __main__; patch from the importable
    # module so workers report the method under this module's name.
    from datawarehouseproject_spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()
    manager()

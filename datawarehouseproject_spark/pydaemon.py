"""Python worker daemon for local masters: ``pyspark.daemon`` without
two per-task costs of a reused worker.

1. Every task starts with ``importlib.invalidate_caches()``
   (``pyspark.worker_util.setup_spark_files``). Workers import pyspark
   from ``$SPARK_HOME/python/lib/pyspark.zip``, and before CPython 3.13
   each cached ``zipimporter`` (one per package directory in the zip)
   re-reads the archive's whole central directory on that call:
   100-200 ms of CPU per task. :func:`install` makes a ``zipimporter``
   re-read only when its archive's ``(st_mtime_ns, st_size)`` differs
   from its last read. From 3.13 on zipimport is left alone.
2. After every task a reused worker runs a full ``gc.collect()``
   (``pyspark.daemon.manager``), which walks every tracked object the
   worker holds: ~73k objects that pandas, pyarrow, pyspark and the
   engine leave behind, 24-53 ms per task on a 4-core host.
   :func:`worker_main` runs each task after ``gc.freeze()``. The
   previous task's garbage was already collected, so everything still
   alive then is long-lived (modules, caches); frozen, it is no longer
   walked, and the post-task collection and any automatic one inside
   a task see only the objects that task allocated. Cyclic garbage a
   task makes is still collected, and objects that die by refcount
   are still freed. This holds on every CPython version.

Spark forks its workers from this daemon, so they inherit both.
Selected by ``session.get_spark`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# the task entry point pyspark.daemon chose (``pyspark.worker.main``
# unless Spark names another worker module); set by install()
_task_main = None


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


def worker_main(infile, outfile) -> None:
    """Run one task with every object that outlived the previous task
    frozen out of the collector."""
    gc.freeze()
    _task_main(infile, outfile)


def install() -> None:
    """Make :func:`worker_main` the daemon's task entry point; before
    3.13 also patch ``zipimporter.invalidate_caches`` and stamp every
    zip importer already cached, so a forked worker's first task skips
    the re-read too."""
    global _task_main
    from pyspark import daemon

    if daemon.worker_main is not worker_main:
        _task_main = daemon.worker_main
        daemon.worker_main = worker_main
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # Run with -m this file is __main__; patch from the importable
    # module so workers report the methods under this module's name.
    from datawarehouseproject_spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()
    manager()

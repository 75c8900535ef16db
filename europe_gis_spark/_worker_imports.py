"""Skip the per-task re-read of unchanged zip archives in Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before CPython 3.13 that makes every ``zipimporter`` the
worker holds (pyspark.zip, the spark-core jar, py4j) re-read its whole
archive directory in pure Python: 120–280 ms per task on a 4-core box.
``install()`` makes that re-read happen only when the archive's
``(st_mtime_ns, st_size)`` changed, the rule ``FileFinder`` applies to
directories. The driver's import machinery is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat before reading: a write during the read shows as a new stamp
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp and files is not None:
        self._files = files  # another importer of this archive may have re-read it
        return
    _stock(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` inside a Spark Python worker;
    a no-op on the driver, outside Spark and on CPython >= 3.13 (whose
    re-read is already lazy)."""
    # a worker runs pyspark.worker, so without pyspark loaded this is no worker
    tc = sys.modules.get("pyspark.taskcontext")
    if sys.version_info >= (3, 13) or tc is None or tc.TaskContext.get() is None:
        return
    # The engine is imported while a task unpickles its UDF, after that task's
    # start re-read every archive the worker's importers hold (Spark fetches
    # files before a task starts): their directories are current, so the
    # next task need not read them again.
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            _stamps[finder.archive] = _stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

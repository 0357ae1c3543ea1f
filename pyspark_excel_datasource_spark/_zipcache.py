"""Keep zipimport's directory caches when an archive has not changed.

Why this exists. Spark's Python worker calls ``importlib.invalidate_caches()``
at the start of every task, every Python data-source planner call and every
streaming source runner (``pyspark.worker_util.setup_spark_files``). On
CPython 3.10-3.12 that call makes every cached ``zipimporter`` re-parse its
archive's whole central directory (``zipimporter.invalidate_caches``), one
parse per importer, not per archive. A worker holds about 16 importers:
12-13 for ``pyspark.zip`` (1,328 entries; one per package path inside it), 2
for the 5,359-entry spark-core jar that Spark puts on the worker's PYTHONPATH,
and 2 for py4j. On a 4-core x86 host those reads cost 150-235 ms of CPU on
every Python call, most of the Python-boundary cost of a small Python
data-source read or write.

The invariant kept. An archive whose ``(st_mtime_ns, st_size, st_ino)`` differ
from the ones recorded when its directory was last read is re-read, exactly as
the stock method does; one that can no longer be read is dropped from the
cache and leaves the importer with an empty directory, also as the stock
method does. So a zip that ``SparkContext.addPyFile`` rewrites or replaces is
still seen. Only a re-read of an unchanged archive is skipped: the importer is
pointed back at the shared ``zipimport._zip_directory_cache`` entry. Stamps are
seeded from that cache when the guard is installed; every entry in it was read
by this process, in a worker moments before the package was imported.

Why there is no conf. The guard is installed when the package is imported,
which every process that unpickles package code does: task workers, planner
workers and streaming source runners. A ``spark.python.daemon.module`` would
not reach them all: in Spark 4.1 ``PythonPlannerRunner`` starts its workers
through the default daemon whatever that conf says.

When to delete it. CPython 3.13 made ``zipimporter.invalidate_caches`` lazy
(gh-103200), so the guard installs only below 3.13. Delete this module once
``requires-python`` is at least 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size, st_ino) when its directory was read
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    archive = self.archive
    # Stamp before reading: an archive replaced during the read then carries
    # an old stamp and is read again on the next call, never kept stale.
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> bool:
    """Install the guard on ``zipimport.zipimporter`` once per process.

    Returns whether the guard is in place; it is not on Python 3.13+, whose
    ``invalidate_caches`` already defers the re-read.
    """
    if sys.version_info >= (3, 13):
        return False
    if zipimport.zipimporter.invalidate_caches is not _invalidate_caches:
        for archive in list(zipimport._zip_directory_cache):
            stamp = _stamp(archive)
            if stamp is not None:
                _stamps[archive] = stamp
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True

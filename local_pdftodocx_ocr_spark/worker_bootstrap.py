"""Once-per-process set-up of a PySpark Python worker.

A reused worker pays two fixed CPU costs on every task before any
program code runs:

* ``setup_spark_files`` calls ``importlib.invalidate_caches()``. On
  CPython < 3.12, ``zipimporter.invalidate_caches`` re-reads its
  archive's central directory eagerly, and the worker holds one
  zipimporter per imported sub-package path of ``pyspark.zip``: 16
  directory reads per task.
* The daemon's reuse loop runs ``gc.collect()`` after each task, over
  the whole imported heap.

``install()`` removes both. It runs from the package ``__init__``, so
it acts on the package's first import in a worker: unpickling any
program function imports the package, and this also holds for
``spark-submit --py-files``, where the package becomes importable only
after the daemon has started. It does nothing in any other process
(driver, sequential oracle, tests), and it imports no pyspark.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key, directory) of the last stock read
_read: dict[str, tuple[tuple, dict]] = {}


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches that reuses the directory read
    last time while the archive's (inode, size, mtime, ctime) is
    unchanged; a changed, replaced or missing archive is re-read (or
    dropped) by the stock method."""
    key = _stat_key(self.archive)
    last = _read.get(self.archive)
    if key is not None and last is not None and last[0] == key:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stock_invalidate_caches(self)
    if key is None or not self._files:
        _read.pop(self.archive, None)
    else:
        _read[self.archive] = (key, self._files)


class _FreezeAtNextTask:
    """A meta path entry that finds no module. PySpark calls
    importlib.invalidate_caches() as each task starts, after the
    daemon's gc.collect(); the first call after install (the second
    task: the first one has done the worker's imports) freezes the
    surviving heap, so later collections skip it."""

    frozen = False

    def find_spec(self, fullname, path=None, target=None):
        return None

    def invalidate_caches(self) -> None:
        if not self.frozen:
            self.frozen = True
            gc.freeze()


def _on_worker() -> bool:
    # set by pyspark.worker_util.setup_spark_files before a task's
    # functions are unpickled; never set in a driver
    files = sys.modules.get("pyspark.core.files")
    return bool(files and getattr(files.SparkFiles, "_is_running_on_worker", False))


def install() -> None:
    if not _on_worker():
        return
    if sys.version_info < (3, 12):   # 3.12 reads zip directories lazily
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    sys.meta_path.append(_FreezeAtNextTask())

"""Python worker daemon for engine sessions: ``pyspark.daemon`` with a
zipimport cache refresh that re-reads only archives that changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that makes
every ``zipimporter`` the worker holds re-read its archive's central
directory: ``pyspark.zip`` and its sub-packages, the py4j zip and the Spark
core jar, 0.2-0.3 s per task.  Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the last read, so a zip shipped with
``addPyFile`` is still picked up.  ``session.get_spark`` selects this module
through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches     # the stock method
_last_read: dict[str, tuple[int, int] | None] = {}


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    key = _stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _last_read.get(self.archive) == key:
        self._files = files
        return
    _last_read[self.archive] = key      # stat before read: a racing write re-reads
    _reread(self)


def install() -> None:
    if sys.version_info < (3, 13):      # 3.13 drops the directory lazily
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    install()
    importlib.invalidate_caches()       # one read per archive; workers fork after
    from pyspark.daemon import manager
    manager()

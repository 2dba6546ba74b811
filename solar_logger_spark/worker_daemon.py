"""PySpark's Python worker daemon, with each zip archive's directory read
once per version of the archive.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
every ``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory at once: a worker's path holds ``pyspark.zip`` (~1,300 entries)
and the ``spark-core`` jar (~5,400), seen through some 14 importers, so a
task spent 110–200 ms re-parsing archives that had not changed. CPython
3.12 made the re-read lazy.

:func:`_read_zip_directories_once` keeps the stdlib meaning (a changed
archive is re-read) but re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the read it holds. ``get_spark``
names this module as ``spark.python.daemon.module``; the worker module
cannot do the job, because ``pyspark.daemon`` only imports a worker module
whose name starts with ``pyspark``. Run as ``python -m
solar_logger_spark.worker_daemon``, it patches ``zipimport``, reads each
archive once, and runs ``pyspark.daemon.manager()``: the workers it forks
inherit the patch and the reads.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_zip_directories_once() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed since the read it holds (CPython < 3.12)."""
    if sys.version_info >= (3, 12):
        return
    stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int]] = {}  # archive -> stamp before its last read

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        stdlib_invalidate(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = stamp
        else:
            read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, inherited by every fork


if __name__ == "__main__":
    _read_zip_directories_once()
    from pyspark import daemon

    daemon.manager()

"""Python worker daemon for engine sessions (``spark.python.daemon.module``).

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task. On
CPython 3.11 each cached ``zipimport.zipimporter`` answers by re-parsing its
archive's whole central directory, and a warm worker holds a dozen or more
importers of ``pyspark.zip`` (1,328 entries): about 125 ms of CPU per task
before the first row, on every ``mapInPandas``, ``pandas_udf`` and Python
data source task.

This module replaces ``zipimporter.invalidate_caches`` with a version that
re-reads an archive only when its ``(st_ino, st_mtime_ns, st_size)`` differs
from the last read, then runs PySpark's own daemon. Spark forks every Python
worker from the daemon, so workers inherit the patch and the directories the
daemon already parsed. Any failure (stat error, no cached directory) falls
through to the original method, so a rewritten archive is still re-read.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (st_ino, st_mtime_ns, st_size) at its last directory read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only if the archive changed on disk."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        stamp = None
    else:
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _read_stamps.get(archive) == stamp:
            self._files = files
            return
    _original_invalidate(self)
    if stamp is None:
        _read_stamps.pop(archive, None)
    else:
        _read_stamps[archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read every archive once here, so forked workers start with the stamps
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so the patched method's __module__ names
    # this module rather than __main__
    from log_agent_spark.pyworker import main as _main

    _main()

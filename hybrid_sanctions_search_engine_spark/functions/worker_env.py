"""Python worker start-up cost: the per-task zip-directory re-read.

Spark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``).  On CPython
3.11 and 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
whole archive directory on every call (3.13 defers the read), and a
worker's ``sys.path_importer_cache`` holds one zip importer per imported
``pyspark`` subpackage plus the py4j zip and the Spark core jar: 0.15–0.4 s
per task before a 1–5 ms UDF body starts, on every task of a reused worker.

The package installs the check below when it is imported.  A worker
imports the package when it unpickles an engine UDF, which is why every
UDF body references a package module, and keeps the check for its life
because the worker daemon reuses worker processes.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def install_zip_invalidate_check() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive directory
    only when the archive's ``(st_mtime_ns, st_size)`` differs from the
    one recorded when that importer last read it.  Idempotent.

    Importers that already exist are recorded as current at install time:
    a worker installs the check while unpickling its first UDF, right after
    that task's own ``invalidate_caches()`` re-read every archive.  An
    importer created later is re-read on its first call, and a missing
    archive falls through to the stdlib method every time."""
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    def archive_stat(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    @functools.wraps(original)
    def invalidate_caches(self):
        # stat BEFORE the read: an archive rewritten mid-read records the
        # older stat, so the next call reads it again
        stat = archive_stat(self.archive)
        if stat is None or stat != self.__dict__.get("_read_stat"):
            original(self)
            self._read_stat = stat

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.__dict__.setdefault("_read_stat", archive_stat(finder.archive))
    zipimport.zipimporter.invalidate_caches = invalidate_caches

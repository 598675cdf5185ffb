"""Stat-gated ``zipimport.zipimporter.invalidate_caches``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the start
of every task, reused worker or not (``pyspark.worker_util.
setup_spark_files``).  On Python 3.10-3.11 that makes every cached
``zipimporter`` re-read its archive's whole central directory: pyspark.zip,
the spark-core jar Spark puts on the worker ``PYTHONPATH``, and one importer
per package path inside pyspark.zip (``pyspark/sql``, ``pyspark/sql/pandas``,
...), each re-reading the full archive.  That is 0.3-0.5 s of every task on
a 4-vCPU host, more than most extraction tasks spend in the kernel.

``install`` wraps the method so an archive is re-read only when its
``os.stat`` (mtime_ns, size, inode) differs from the one taken at its last
read -- the staleness rule ``FileFinder`` already applies to directories.
The first call per archive re-reads as before.  The package installs it
from ``__init__``: every kernel it hands to Spark is unpickled in the
worker by importing the package, so a worker pays the re-read on its first
tasks only.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> stat key taken just before its last directory read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_gated", False):
        return

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is not None and _read_at.get(self.archive) == key:
            # unchanged since the last read: adopt the shared directory
            # (another importer over this archive may have made it)
            self._files = cached
            return
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key
        else:
            _read_at.pop(self.archive, None)

    invalidate_caches._stat_gated = True
    invalidate_caches.__wrapped__ = reread
    zipimport.zipimporter.invalidate_caches = invalidate_caches

"""Python-worker set-up: re-read a zip directory only when its archive changed.

PySpark's `worker_util.setup_spark_files` calls `importlib.invalidate_caches()`
at the start of every task. Before Python 3.13, `zipimporter.invalidate_caches`
re-parses its whole archive directory each time, and a worker holds one
importer per zip on its path (pyspark.zip, the spark-core jar) plus one per
imported sub-package, ~16 in all: 0.25-0.28 s per task on a 4-core VM, more
than the numpy work of a 5k-point stab batch. `install()` runs when the package is imported,
i.e. wherever one of its UDFs is unpickled; in a PySpark worker on Python
< 3.13 it gates the re-read on the archive's (mtime, size, inode), so a
reused worker pays it only when a zip was added or rewritten. The driver's
interpreter is never touched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _install_gate() -> None:
    """Wrap `zipimporter.invalidate_caches` (once per process). Importers
    already on `sys.path_importer_cache` count as read now: the worker
    re-read them in this task's `setup_spark_files`."""
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ == __name__:
        return
    original = cls.invalidate_caches

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is None or key != getattr(self, "_insideout_read_key", None):
            original(self)
            self._insideout_read_key = key

    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._insideout_read_key = _stat_key(imp.archive)


def install() -> None:
    files = sys.modules.get("pyspark.core.files")
    on_worker = getattr(getattr(files, "SparkFiles", None), "_is_running_on_worker", False)
    if on_worker and sys.version_info < (3, 13):
        _install_gate()

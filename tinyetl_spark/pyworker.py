"""Spark Python worker daemon that stops re-parsing zip archives per task.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On CPython 3.11 that makes each
cached ``zipimporter`` re-read its archive's whole central directory, so a
worker importing pyspark from ``pyspark.zip`` re-parses it once per
package importer on every task, warm or not. This daemon makes
``zipimporter.invalidate_caches`` re-read an archive only when its
``(st_mtime_ns, st_size, st_ino)`` changed since that importer's last
read, then hands off to ``pyspark.daemon``. A rewritten zip is still
re-read; only the redundant re-parse goes away.

Run as ``python -m tinyetl_spark.pyworker`` via ``spark.python.daemon.module``
(``session.get_spark`` sets it).
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        sig = None
    if sig is None or sig != getattr(self, "_archive_sig", None):
        _reread(self)
        self._archive_sig = sig


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    from pyspark import daemon
    # stamp every importer before the fork so workers inherit the stamps
    importlib.invalidate_caches()
    daemon.manager()

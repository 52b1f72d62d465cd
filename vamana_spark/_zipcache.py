"""Stamp-checked ``zipimporter.invalidate_caches`` for PySpark workers.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimporter.invalidate_caches`` eagerly re-reads its archive's central
directory, and a worker holds about 17 zip importers: a dozen on
``pyspark.zip``, two on the spark-core jar (5k entries, on the worker's
path through ``PythonUtils.sparkPythonPath``), py4j and the shipped
package. That is ~0.2 s of CPU per task before the first row. Python
3.13 only drops the cached directory, so a later import re-reads it.

:func:`install` (run once from the package import) gives each importer a
stamp, the archive's ``(st_mtime_ns, st_size)`` taken before its last
read, and skips the re-read while the stamp is unchanged. The first call
per importer, a changed stamp, or a failed ``os.stat`` falls through to
the stock method, so an archive rewritten on disk is still re-read. It
patches worker processes only; the driver is never touched.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark.core.files import SparkFiles


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in this process when it is
    a PySpark worker on Python < 3.13 and the patch is not in place yet.
    Returns whether it patched."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or not SparkFiles._is_running_on_worker:
        return False
    stock = cls.invalidate_caches
    if getattr(stock, "_stamp_checked", False):
        return False

    @functools.wraps(stock)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is not None and stamp == getattr(self, "_dir_stamp", None):
            return
        stock(self)
        self._dir_stamp = stamp

    invalidate_caches._stamp_checked = True
    cls.invalidate_caches = invalidate_caches
    return True

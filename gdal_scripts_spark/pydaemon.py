"""PySpark worker daemon that re-reads a zip archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python 3.11 each
``zipimport.zipimporter`` then eagerly re-reads its archive's central
directory (CPython gh-103200; 3.13 defers the read). A worker holds one
importer per imported subpackage of ``pyspark.zip``, one for the py4j zip
and one for the Spark core jar, which together cost 60-100 ms per task.

Run as ``spark.python.daemon.module`` (set by
:func:`gdal_scripts_spark.session.get_spark`): it swaps in
:func:`invalidate_caches`, which calls the original only when the
archive's ``(st_mtime_ns, st_size)`` differs from the stamp taken at that
importer's last read, or when ``os.stat`` fails, and then runs PySpark's
own daemon. Workers fork from it and inherit the change; a rewritten
archive is still re-read.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read and stamp every importer once here, so forked workers start stamped
    importlib.invalidate_caches()
    manager()

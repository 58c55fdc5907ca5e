"""Stat-keyed ``zipimport.zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython 3.11 each
``zipimporter`` on ``sys.path`` answers by re-reading its archive's whole
central directory, and a Spark worker has pyspark.zip (one importer per
package subdirectory) and the spark-core jar there. On a 4-core host
that was 0.13-0.31 s of every Python task, more than half of a no-op
UDF job.

The replacement re-reads only when the archive's ``(st_mtime_ns,
st_size)`` differs from what this importer instance last read, so:

* a changed archive is still re-read by every importer of it;
* an importer that has not read under this method yet always re-reads;
* a vanished or unreadable archive goes to the original method, which
  empties that importer's file table as before.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive directory if the archive changed since this
    importer last read it."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self.__dict__.pop("_stat_stamp", None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if self.__dict__.get("_stat_stamp") != stamp:
        # stamp taken before the read: an archive rewritten mid-read
        # differs from it and is read again next time
        _reread(self)
        self._stat_stamp = stamp


def install() -> None:
    """Replace the method for every zipimporter in this process."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches

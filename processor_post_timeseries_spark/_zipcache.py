"""Stat-keyed zip importer invalidation for Spark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.13 that makes each ``zipimporter`` on the
path re-read its archive's central directory: on a worker, 17 importers
over ``pyspark.zip``, the spark-core jar, py4j and the engine zip, about
0.2 s of CPU per task on a 4-vCPU host. ``install`` makes the call
re-read an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stat taken before its cached directory was read, and
then once per archive, not once per importer. A missing archive goes through the stock method (its
importer then holds no files). Python 3.13 already re-reads lazily:
delete this module once the floor is Python 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches``, once, in a Spark
    Python worker on CPython < 3.13; anywhere else, do nothing."""
    # PySpark's worker sets this private flag before it unpickles a UDF
    files = sys.modules.get("pyspark.core.files")
    on_worker = getattr(getattr(files, "SparkFiles", None), "_is_running_on_worker", False)
    if not on_worker or sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "_stat_keyed", False):
        return
    # archive path -> stat key taken just before its cached directory was read
    stat_at_read: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is not None and stat_at_read.get(self.archive) == key:
            self._files = cached
            return
        stat_at_read[self.archive] = key
        stock(self)

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches

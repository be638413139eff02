"""Stat-gated ``zipimport.zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py`` ``setup_spark_files``). Up to CPython 3.12 that
makes each ``zipimporter`` in ``sys.path_importer_cache`` re-read its whole
archive directory at once: an engine worker holds 17-19 such importers
over ~27k entries (``pyspark.zip`` twelve times, py4j and the spark-core
jar twice each, ``engine.zip``; 6.7k distinct entries), 150-280 ms of CPU
per task before its first batch. CPython 3.13 made the re-read lazy, so
there nothing is replaced.

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size)`` changed since this process last read it, and otherwise points
the importer at the directory dict every importer of that archive shares
(``zipimport._zip_directory_cache``). When the archive cannot be stat'ed
it runs the stock method, which drops the cached directory.

``pdf_to_text_spark/__init__.py`` installs it, so every process that
imports the engine has it: a Python worker from its first engine task on,
because every mapInPandas, mapInArrow and pandas_udf body is pickled by
reference to an engine module. That task's own re-read ran before the
import; the next task reads each archive once and stamps it; later tasks
read none.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before this process
# last read that archive's directory
_stamps: dict[str, tuple[int, int]] = {}


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` once per process.

    Returns whether the stat-gated method is in place. An archive is
    stamped only by a read this method makes, so its first invalidation
    after the install still reads it, once for all its importers.
    """
    if sys.version_info >= (3, 13):
        return False
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "stat_gated", False):
        return True

    def invalidate_caches(self):
        """Reload the archive's file data if the archive changed."""
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            _stamps.pop(archive, None)
            stock(self)
            return
        key = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _stamps.get(archive) == key:
            self._files = files
            return
        stock(self)
        _stamps[archive] = key

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True

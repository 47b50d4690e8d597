"""Stat-checked ``zipimporter`` cache invalidation in PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13 that makes every ``zipimporter`` eagerly re-read its archive's whole
directory: on ``pyspark.zip`` about a dozen importers over ~1,300 entries,
~0.2 s of every task. CPython 3.13's ``Lib/zipimport.py`` made the call
lazy (``invalidate_caches`` only drops the cached directory and
``_get_files`` re-reads it on next use). :func:`install` backports the
saving as a stat check: an importer re-reads its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since it last read it, the
way ``FileFinder`` already keys on directory mtimes.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stat_checked(invalidate):
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken first: a write during the read re-reads next time
        if getattr(self, "_graftpark_stamp", None) != stamp:
            invalidate(self)
            self._graftpark_stamp = stamp

    return invalidate_caches


def install() -> None:
    """Install :func:`stat_checked` in this process if it is a PySpark
    worker running a task on CPython < 3.13; otherwise do nothing."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or cls.invalidate_caches.__module__ == __name__:
        return
    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is None:  # the driver: leave its import system alone
        return
    # this task's setup_spark_files has just re-read every live importer
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._graftpark_stamp = _stamp(imp.archive)
    cls.invalidate_caches = stat_checked(cls.invalidate_caches)

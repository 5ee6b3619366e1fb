"""PySpark Python-worker daemon whose zip importers re-read an archive only
when it changed (CLAUDE.md constraint 23).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task.  On CPython < 3.13 that makes every ``zipimporter`` on
``sys.path`` re-read its archive's central directory: pyspark.zip and the
spark-core jar, 0.12-0.19 s per task before the first Arrow batch.
``get_spark`` names this module as ``spark.python.daemon.module``; run as
``__main__`` it installs ``invalidate_caches`` below and starts PySpark's
own daemon, whose forked workers inherit the patch."""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only when its (mtime, size) stamp moved or it
    cannot be stat'ed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    # patch with the module under its own name, not __main__, so a worker
    # can tell which daemon it forked from
    from dggstools_spark import worker_daemon

    if sys.version_info < (3, 13):  # 3.13's invalidate_caches only drops the cache
        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    from pyspark import daemon

    # stamp every importer the daemon holds, so forked workers skip the
    # re-read from their first task
    importlib.invalidate_caches()
    daemon.manager()

"""Python worker daemon for this engine's Spark sessions.

Spark forks every Python worker from one daemon process per executor
(``spark.python.daemon.module``, default ``pyspark.daemon``).  Run as
``python -m pipeline_calculator_v3_spark.worker_daemon``, this module does
two things before it hands off to ``pyspark.daemon.manager()``, so that the
forked workers inherit them:

- it imports numpy, pandas, pyarrow and PySpark's Arrow serializers, which
  a fresh worker would otherwise import on its first pandas or Arrow UDF
  task;
- it makes ``zipimporter.invalidate_caches()`` skip archives that did not
  change.  A worker calls ``importlib.invalidate_caches()`` at the start of
  every task (``pyspark.worker_util.setup_spark_files``).  Up to CPython
  3.12 that call re-reads the central directory of every zip on the import
  path: ``pyspark.zip`` once per package sub-path, and the ``spark-core``
  jar, 16 reads costing about a quarter of a second per task on a reused
  worker (Python 3.11.7, Spark 4.1.2, 4 cores).  From 3.13 the re-read is
  lazy and the gate is not installed.

Importing the module only defines its functions.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Checked in the CPython sources: 3.10.13, 3.11.7 and 3.12.1 re-read the
# archive inside invalidate_caches(); 3.13.0 only drops its cache entry.
_EAGER_REREAD = sys.version_info < (3, 13)

# archive path -> (st_mtime_ns, st_size) when its directory was last read,
# None when the archive could not be stat'ed
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_gate() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since the last read.  Several
    importers share one archive (one per package sub-path); an importer
    whose archive another one already re-read takes the shared directory
    from ``zipimport``'s cache."""
    if not _EAGER_REREAD:
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and _stamps.get(self.archive) == stamp:
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        reread(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _main() -> None:
    import importlib

    install_zip_gate()
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401

    # stamps every importer on the path, so the first task re-reads nothing
    importlib.invalidate_caches()
    # pyspark.daemon reads the worker module from sys.argv[1] on import
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    _main()

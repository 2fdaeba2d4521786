"""Ship this package to executor Python workers.

Pandas-UDF closures are cloudpickled *by reference* (module + qualname), so
executor workers must be able to ``import pipeline_calculator_v3_spark``.
When the driver process found the package via a sys.path entry (e.g. the
harness imported ``__spark_entry__`` from an arbitrary cwd), workers won't
inherit that path — on a real cluster they are different machines entirely.
The fix is the standard one: zip the package and ``SparkContext.addPyFile``
it, once per application.  A local session from ``get_spark`` needs no zip:
its workers fork from ``worker_daemon``, which imported the package from
the directory ``get_spark`` put on the workers' PYTHONPATH.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

from . import worker_daemon

_SHIPPED: set[str] = set()
# serializes check-zip-ship: two driver threads (an async streaming query
# build + a concurrent batch operator both calling this lazily) would
# otherwise both miss the check and truncate the SAME zip path mid-write,
# shipping a corrupt archive addPyFile then pins for the whole app
# (review r12)
_LOCK = threading.Lock()


def ensure_pkg_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    with _LOCK:
        if app_id in _SHIPPED:
            return
        daemon = sc.getConf().get("spark.python.daemon.module", "")
        if daemon != worker_daemon.__name__:
            pkg_dir = os.path.dirname(os.path.abspath(__file__))
            zpath = os.path.join(
                tempfile.gettempdir(),
                f"pipeline_calculator_v3_spark_{os.getpid()}.zip",
            )
            with zipfile.ZipFile(zpath, "w") as z:
                for root, _, files in os.walk(pkg_dir):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                            z.write(full, rel)
            sc.addPyFile(zpath)
        _SHIPPED.add(app_id)

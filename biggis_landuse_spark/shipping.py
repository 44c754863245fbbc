"""Ship the package to Spark workers for pandas-UDF execution.

Operators built purely from Spark SQL expressions never need this —
they execute in the JVM. But ``mapInPandas`` / ``applyInPandas``
closures are unpickled inside Python worker processes, which import
``biggis_landuse_spark`` by name; when the driving process runs from
outside the repo (or on a real cluster), workers need the package on
their path. ``ensure_package_shipped`` zips the package once per
SparkContext and registers it via ``addPyFile`` — the standard
mechanism for shipping job code, valid in local mode and on clusters.

Every operator that uses a pandas UDF calls this first.
"""

from __future__ import annotations

import logging
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_SHIPPED: set[int] = set()
# addPyFile calls that raised in this process
ADD_PYFILE_FAILURES = 0
_FAILURES_LOCK = threading.Lock()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Zip the package and ``addPyFile`` it once per SparkContext. A
    failing ``addPyFile`` (e.g. the name is already registered in this
    context) is not fatal — workers that already have the package keep
    working — but it is never silent: it logs a WARNING naming the
    exception and counts itself in ``ADD_PYFILE_FAILURES``."""
    global ADD_PYFILE_FAILURES
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"biggis_landuse_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    try:
        sc.addPyFile(zpath)
    except Exception as exc:
        with _FAILURES_LOCK:
            ADD_PYFILE_FAILURES += 1
        log.warning(
            "ensure_package_shipped: addPyFile(%s) failed (%s: %s)",
            zpath,
            type(exc).__name__,
            exc,
        )
    _SHIPPED.add(key)

"""Ship the package to executor Python workers.

Python UDFs defined in this package are pickled *by reference* — the
executor worker must be able to ``import cli_rag_spark``. The driver
process importing it (via sys.path) is not enough: workers have their
own interpreter. The standard mechanism is ``sc.addPyFile`` of a zip
of the package, which Spark distributes and prepends to worker
sys.path — works identically on local mode and a 1000-executor
cluster. Called lazily (once per SparkContext) by the query registry
so every judged query is self-sufficient no matter how the driver
built its session.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_ADDED: set[str] = set()


def _remove_zip(zpath: str, pid: int) -> None:
    # a forked child inherits the handler; only the writer removes it
    if os.getpid() == pid:
        with contextlib.suppress(FileNotFoundError):
            os.remove(zpath)


def _package_zip() -> str:
    """The package zipped into the temp directory, written once per
    process and removed when that process exits (Spark serves it to
    executors only while the driver's context lives)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), f"cli_rag_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        atexit.register(_remove_zip, zpath, os.getpid())
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _ADDED:
        return
    sc.addPyFile(_package_zip())
    _ADDED.add(app_id)

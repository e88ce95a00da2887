"""Self-shipping: make `diagon_spark` importable on executor Python workers.

On a real cluster the package ships via `spark-submit --py-files
diagon_spark.zip` (north_rule). For ad-hoc drivers (notebooks, scripts run
from any cwd) the public entry points call ensure_shipped(), which zips
the installed package once per process and registers it with
SparkContext.addPyFile — the idiomatic PySpark dependency mechanism.
The zip lives in a private temp dir that is removed when the process
exits: a file found on disk is never reused, so executors always run the
code this driver imported.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

_shipped: set[int] = set()
_zip_path: str | None = None


def _package_zip() -> str:
    global _zip_path
    if _zip_path is None:
        tmp, pid = tempfile.mkdtemp(prefix="diagon_spark_"), os.getpid()
        # a forked child that exits through atexit leaves the dir alone
        atexit.register(lambda: os.getpid() == pid
                        and shutil.rmtree(tmp, ignore_errors=True))
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        # a name of its own: addPyFile rejects (and SparkFiles overwrites)
        # a second file named like a --py-files `diagon_spark.zip`
        zpath = os.path.join(tmp, os.path.basename(tmp) + ".zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        _zip_path = zpath
    return _zip_path


def ensure_shipped(spark) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped:
        return
    sc.addPyFile(_package_zip())
    _shipped.add(key)

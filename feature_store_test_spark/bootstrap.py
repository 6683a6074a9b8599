"""Make the engine package importable on executor Python workers.

Pandas UDFs (the streaming mapInPandas fold, any applyInPandas operator) are
pickled by reference to this package; workers spawned by a driver running
OUTSIDE the repo directory would fail with ModuleNotFoundError. ``ship_package`` zips
the package once per process and registers it with ``addPyFile`` — the
Spark-native way to distribute Python code, and the same call a real
cluster deployment would make (or replace with a wheel on PYTHONPATH).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_shipped_app_ids: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _shipped_app_ids:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"fsts_pkg_{os.getpid()}_{abs(hash(pkg_dir)) % 10**8}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _shipped_app_ids.add(app_id)

"""Ship the chiv_spark package to Python workers.

Closures executed by Python workers (mapInPandas, RDD mapPartitions)
deserialize against the worker's import path — which does not include
the repo root unless the driver happened to run from it. Zipping the
package and ``addPyFile``-ing it makes workers independent of the
driver's cwd, in local mode and on a real cluster alike.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from chiv_spark.core import state


def ensure_shipped(spark: SparkSession) -> None:
    """Add the zipped package to the application, once per application."""

    def ship(_stale) -> str:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zip_path = os.path.join(tempfile.gettempdir(), f"chiv_spark_pkg_{os.getpid()}.zip")
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fname in files:
                        if not fname.endswith(".py"):
                            continue
                        full = os.path.join(root, fname)
                        rel = os.path.join("chiv_spark", os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
        return zip_path

    state.get_or_build(spark, "pyship", None, (), ship)

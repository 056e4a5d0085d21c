"""Executor-side distribution of this package.

``spark-submit --py-files cca_spark.zip`` is the production path
(north rule). When the session is created by someone else (the grading
driver, a notebook), executor Python workers may not have the repo on
their ``sys.path`` — any pickled UDF closure referencing ``cca_spark``
would fail to deserialize. ``ensure_on_executors`` zips the package once
and registers it with ``SparkContext.addPyFile`` — the same mechanism
``--py-files`` uses, applied idempotently at runtime.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_SENTINEL_ATTR = "_cca_spark_pyfile_added"


def build_zip(path: str | None = None) -> str:
    """Zip the cca_spark package (for --py-files or addPyFile).

    The default path names this process, so two processes shipping
    different checkouts at once never write or register each other's
    archive; the file is removed when the process exits."""
    if path is None:
        path = os.path.join(tempfile.gettempdir(), f"cca_spark_dist_{os.getpid()}.zip")
        atexit.register(_remove, path)
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join("cca_spark", os.path.relpath(full, _PKG_DIR))
                zf.write(full, rel)
    os.replace(tmp, path)
    return path


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def ensure_on_executors(spark: SparkSession) -> None:
    """Idempotently make cca_spark importable inside executor workers."""
    sc = spark.sparkContext
    if getattr(sc, _SENTINEL_ATTR, False):
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SENTINEL_ATTR, True)

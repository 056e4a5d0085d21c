"""What every Python function Spark runs in a worker does first.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``), so that files added
with ``addPyFile`` become importable. On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
directory: one importer per imported ``pyspark.zip`` sub-package, two for
the spark-core jar and two for py4j, 0.24-0.41 s per task at local[4] on
4 vCPUs before the function runs. Python workers are reused across tasks, so
``in_worker`` replaces that method once per worker process with one that
re-reads an archive only when its ``(st_ino, st_mtime_ns, st_size)``
differs from the last read, and otherwise keeps the directory already in
``zipimport._zip_directory_cache``. The first call after installing reads
each archive once, not once per importer; every later call costs one
``stat`` per importer. An archive that did change, such as the package
zip ``dist.ensure_on_executors`` rebuilds, is still re-read.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip an archive whose stamp is
    unchanged since its last read; a no-op once installed. Leaves the
    method alone on a CPython whose ``zipimporter`` does not keep its
    directory in ``self._files``, shared through
    ``zipimport._zip_directory_cache``."""
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if (
        getattr(reread, "keeps_unchanged", False)
        or not isinstance(cache, dict)
        or "_files" not in cls.__init__.__code__.co_names
    ):
        return
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self):
        # stat before reading: an archive rewritten during the read keeps
        # the older stamp and is read again next time
        stamp = _stamp(self.archive)
        files = cache.get(self.archive)
        if stamp is not None and files is not None and read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = stamp

    invalidate_caches.keeps_unchanged = True
    cls.invalidate_caches = invalidate_caches


def in_worker(fn):
    """``fn`` as it is handed to Spark to run in a Python worker: the same
    call, after ``keep_unchanged_zip_directories``. Every function this
    package passes to ``mapInArrow``, ``mapInPandas`` or
    ``applyInPandasWithState`` goes through it (tests/test_pyworker.py)."""

    @functools.wraps(fn)
    def run(*args):
        keep_unchanged_zip_directories()
        return fn(*args)

    return run

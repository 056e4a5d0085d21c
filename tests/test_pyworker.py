"""The Python-worker set-up (``cca_spark.pyworker``): zipimporter directory
caches are kept while their archive is unchanged, a changed archive is
still re-read, the per-task ``importlib.invalidate_caches()`` in a reused
Spark worker costs stat calls, and every Python function the program hands
to Spark goes through ``in_worker``."""

from __future__ import annotations

import ast
import importlib
import os
import zipfile
import zipimport
from pathlib import Path

import pytest

from cca_spark.pyworker import in_worker, keep_unchanged_zip_directories

REPO = Path(__file__).resolve().parent.parent
UDF_METHODS = {"mapInArrow", "mapInPandas", "applyInPandasWithState"}


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    # replaced, not rewritten in place, as dist.build_zip does
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.replace(tmp, path)


@pytest.fixture
def restore_zipimporter(monkeypatch):
    """Put the original ``invalidate_caches`` back after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, restore_zipimporter):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, {"pyworker_mod_a": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("pyworker_mod_a").A == 1

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    keep_unchanged_zip_directories()
    installed = zipimport.zipimporter.invalidate_caches
    # the first call after installing reads once to learn the stamp
    importlib.invalidate_caches()
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, {"pyworker_mod_a": "A = 1\n", "pyworker_mod_b": "B = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("pyworker_mod_b").B == 2
    importlib.invalidate_caches()
    assert len(reads) == 2

    keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_unknown_zipimporter_layout_is_left_alone(monkeypatch, restore_zipimporter):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.delattr(zipimport, "_zip_directory_cache")
    keep_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is before


def test_worker_invalidate_caches_costs_stat_calls(spark):
    """In a reused worker the per-task ``importlib.invalidate_caches()``
    reads no archive again; without the set-up it re-reads every zip on the
    worker's ``sys.path`` (0.24-0.41 s per task at local[4])."""
    from cca_spark.operators.parse import parse_fact_partials
    from cca_spark.transcripts import load_transcripts
    from tests.conftest import SF_SMOKE

    parse_fact_partials(load_transcripts(spark, SF_SMOKE)).collect()

    def probe(batches):
        import time

        import pyarrow as pa

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict({"s": [time.perf_counter() - t0]})

    n = spark.sparkContext.defaultParallelism
    rows = spark.range(0, n, 1, n).mapInArrow(in_worker(probe), "s double").collect()
    seconds = [r.s for r in rows]
    assert len(seconds) == n
    assert max(seconds) < 0.05, seconds


def test_every_python_udf_goes_through_in_worker():
    paths = [*sorted((REPO / "cca_spark").rglob("*.py")), *sorted((REPO / "scripts").glob("*.py"))]
    sites = [
        (str(path.relative_to(REPO)), node.lineno, node.args[0] if node.args else None)
        for path in paths
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in UDF_METHODS
    ]
    assert sites, "no Python-UDF call found"
    bare = [
        (path, line)
        for path, line, fn in sites
        if not (isinstance(fn, ast.Call) and getattr(fn.func, "id", None) == "in_worker")
    ]
    assert not bare, bare

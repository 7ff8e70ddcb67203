"""pyworker.py: ``importlib.invalidate_caches()`` no longer re-reads zip
directories (CPython 3.13's lazy zipimporter invalidation, backported
where the package is imported). Covered here:

- one invalidation re-reads no zip on the driver, and none inside a
  reused Python worker, where PySpark invalidates on every request;
- a module added to an archive still imports after invalidation;
- ``pkgutil.iter_modules`` still lists a zip after invalidation.
"""

from __future__ import annotations

import importlib
import pkgutil
import sys
import zipfile
import zipimport

import pytest

import lance_duckdb_spark  # noqa: F401  (applies the backport)


def _read_directory_calls(fn) -> int:
    """How many zip directories ``fn()`` reads."""
    real = zipimport._read_directory
    calls = 0

    def counting(archive):
        nonlocal calls
        calls += 1
        return real(archive)

    zipimport._read_directory = counting
    try:
        fn()
    finally:
        zipimport._read_directory = real
    return calls


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding one module, on ``sys.path`` and imported once, so
    an importer for it sits in ``sys.path_importer_cache``."""
    archive = str(tmp_path / "mods.zip")
    prefix = f"pyworker_probe_{tmp_path.name.replace('-', '_')}"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{prefix}_a.py", "X = 1\n")
    sys.path.insert(0, archive)
    importlib.import_module(f"{prefix}_a")
    yield archive, prefix
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]


def test_invalidate_caches_reads_no_zip_directory(zip_on_path):
    assert isinstance(sys.path_importer_cache[zip_on_path[0]], zipimport.zipimporter)
    assert _read_directory_calls(importlib.invalidate_caches) == 0


def test_added_module_imports_after_invalidation(zip_on_path):
    archive, prefix = zip_on_path
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr(f"{prefix}_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module(f"{prefix}_b").Y == 2


def test_pkgutil_lists_zip_after_invalidation(zip_on_path):
    archive, prefix = zip_on_path
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr(f"{prefix}_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    names = {m.name for m in pkgutil.iter_modules([archive])}
    assert names == {f"{prefix}_a", f"{prefix}_b"}


def test_worker_request_reads_no_zip_directory(spark):
    """Inside a Python worker, after the package import, the per-request
    invalidation re-reads none of the worker path's zips (pyspark.zip,
    the spark-core jar)."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import lance_duckdb_spark  # noqa: F401

        for _ in batches:
            pass
        real = zipimport._read_directory
        calls = 0

        def counting(archive):
            nonlocal calls
            calls += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [calls], "zipimporters": [importers]})

    rows = (
        spark.range(0, 2, 1, 2)
        .mapInPandas(probe, "reads long, zipimporters long")
        .collect()
    )
    assert len(rows) == 2
    assert all(r["zipimporters"] >= 1 for r in rows), rows
    assert all(r["reads"] == 0 for r in rows), rows

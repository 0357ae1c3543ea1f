"""The zipimport guard: importlib.invalidate_caches() re-reads a zip's
directory only when the zip changed on disk (``_zipcache``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from pyspark_excel_datasource_spark import _zipcache

PKG = "zipcache_probe_pkg"

guarded = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the guard installs only below Python 3.13"
)


def _write_zip(path: str, value: str) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        zf.writestr(f"{PKG}/sub/__init__.py", "")
        zf.writestr(f"{PKG}/sub/mod.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


def _importers(archive: str) -> list:
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


def _evict_modules() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding a package and a subpackage, imported from, so that
    three importers (root, package, subpackage) are cached for it."""
    assert _zipcache.install()
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "first")
    monkeypatch.syspath_prepend(path)
    assert importlib.import_module(f"{PKG}.sub.mod").VALUE == "first"
    yield path
    _evict_modules()
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    _zipcache._stamps.pop(path, None)


@pytest.fixture
def reads(archive, monkeypatch):
    """Archives passed to ``zipimport._read_directory`` for ``archive``."""
    calls: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@guarded
def test_unchanged_archive_is_not_reread(archive, reads, monkeypatch):
    importers = _importers(archive)
    assert len(importers) == 3
    # An archive first seen after install has no stamp yet: it is read
    # once, not once per importer.
    importlib.invalidate_caches()
    assert reads == [archive]
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    shared = zipimport._zip_directory_cache[archive]
    assert all(imp._files is shared for imp in importers)
    # The stock method would have re-read the directory once per importer.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._stock_invalidate_caches
    )
    importlib.invalidate_caches()
    assert reads == [archive] * 3


@guarded
def test_replaced_archive_is_reread_once_and_imports_new_source(archive, reads):
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, "second, a longer value")
    importlib.invalidate_caches()
    assert reads == [archive]
    _evict_modules()
    assert importlib.import_module(f"{PKG}.sub.mod").VALUE == "second, a longer value"


@guarded
def test_deleted_archive_is_dropped_like_the_stock_method(archive):
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipcache._stamps
    assert [imp._files for imp in _importers(archive)] == [{}, {}, {}]


@guarded
def test_install_twice_wraps_once(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._stock_invalidate_caches
    )
    assert _zipcache.install()
    assert _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    assert _zipcache._stock_invalidate_caches is not _zipcache._invalidate_caches


def test_guard_stays_out_on_python_313(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._stock_invalidate_caches
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._stock_invalidate_caches


@guarded
def test_python_worker_keeps_zip_directories(spark):
    def worker_reads(_rows):
        """Runs in a Python worker, once package code is loaded: count the
        zip directory reads of ``importlib.invalidate_caches()`` (the call
        Spark's worker makes at the start of every task), then those of
        the stock method on the same importers."""
        import importlib
        import sys
        import zipimport

        from pyspark_excel_datasource_spark import _zipcache

        importers = [
            f for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)
        ]
        read = zipimport._read_directory
        calls = []

        def counting(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            guarded_reads = len(calls)
            for imp in importers:
                _zipcache._stock_invalidate_caches(imp)
        finally:
            zipimport._read_directory = read
        yield len(importers), guarded_reads, len(calls) - guarded_reads

    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(worker_reads).collect()
    assert len(rows) == 4
    for importers, guarded_reads, stock_reads in rows:
        # pyspark.zip and py4j's zip sit on every worker's path
        assert importers >= 2
        assert guarded_reads == 0
        assert stock_reads == importers

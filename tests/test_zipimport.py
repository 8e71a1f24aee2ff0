"""The lazy zip-directory cache (docling_api_spark/_zipimport.py): unit
tests with no Spark, then a check that the engine's Python workers run
with it installed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from docling_api_spark import _zipimport
from docling_api_spark._zipimport import LazyZipImporter, install

EAGER = sys.version_info < (3, 13)
needs_eager = pytest.mark.skipif(
    not EAGER, reason="3.13+ zipimport is lazy already; install() is a no-op")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding ``lazyzip_a``; ``install()`` has run.
    Teardown forgets the modules, importers and directory it left behind."""
    path = _write_zip(tmp_path / "mods.zip", {"lazyzip_a": "X = 1\n"})
    install()
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("lazyzip_a", "lazyzip_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch):
    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def test_invalidate_caches_rereads_no_unchanged_archive(archive, monkeypatch):
    import lazyzip_a
    assert lazyzip_a.X == 1
    importer = sys.path_importer_cache[archive]
    if EAGER:
        assert type(importer) is LazyZipImporter
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    if EAGER:  # the stock importer pays a full directory read per call
        stock = zipimport.zipimporter(archive)
        reads.clear()
        stock.invalidate_caches()
        assert reads == [archive]


def test_rewritten_archive_serves_new_module(archive):
    import lazyzip_a  # noqa: F401  (caches the old directory)
    _write_zip(archive, {"lazyzip_a": "X = 1\n", "lazyzip_b": "Y = 2\n"})
    importlib.invalidate_caches()
    import lazyzip_b
    assert lazyzip_b.Y == 2


def test_deleted_archive_is_module_not_found(archive):
    import lazyzip_a  # noqa: F401
    os.remove(archive)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        import lazyzip_b  # noqa: F401


@pytest.fixture
def stock_state(tmp_path, monkeypatch):
    """Private copies of the import hooks holding a stock zipimporter."""
    path = _write_zip(tmp_path / "stock.zip", {"lazyzip_a": "X = 1\n"})
    hooks = [zipimport.zipimporter if h is LazyZipImporter else h
             for h in sys.path_hooks]
    monkeypatch.setattr(sys, "path_hooks", hooks)
    monkeypatch.setattr(sys, "path_importer_cache",
                        {path: zipimport.zipimporter(path)})
    yield path
    zipimport._zip_directory_cache.pop(path, None)


@needs_eager
def test_install_is_idempotent(stock_state):
    install()
    hooks = list(sys.path_hooks)
    importer = sys.path_importer_cache[stock_state]
    assert hooks.count(LazyZipImporter) == 1
    assert zipimport.zipimporter not in hooks
    assert type(importer) is LazyZipImporter
    install()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache[stock_state] is importer


def test_install_is_a_no_op_from_3_13(stock_state, monkeypatch):
    hooks = list(sys.path_hooks)
    importer = sys.path_importer_cache[stock_state]
    with monkeypatch.context() as m:
        m.setattr(_zipimport.sys, "version_info", (3, 13, 0, "final", 0))
        install()
    assert sys.path_hooks == hooks
    assert sys.path_importer_cache == {stock_state: importer}


def test_workers_run_with_lazy_importers(spark):
    """More tasks than cores, so most tasks run on a reused worker; each
    reports the zip importers its worker holds once the engine is in."""
    def report(batches):
        import os
        import sys
        import zipimport

        import pandas as pd

        import docling_api_spark  # noqa: F401  (installs the lazy cache)
        from docling_api_spark._zipimport import LazyZipImporter
        for _ in batches:
            pass
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "eager": [sys.version_info < (3, 13)],
            "zips": [len(zips)],
            "lazy": [sum(type(f) is LazyZipImporter for f in zips)]})

    rows = (spark.range(0, 64, numPartitions=12)
            .mapInPandas(report, "pid long, eager boolean, zips long, "
                                 "lazy long")
            .collect())
    assert len(rows) == 12
    assert len({r.pid for r in rows}) < len(rows)  # workers were reused
    if not rows[0].eager:
        pytest.skip("workers run Python 3.13+: install() is a no-op there")
    assert all(r.zips > 0 for r in rows)  # pyspark.zip and py4j at least
    assert all(r.lazy == r.zips for r in rows)

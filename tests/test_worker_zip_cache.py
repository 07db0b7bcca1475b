"""The stat-checked ``zipimporter.invalidate_caches`` that importing
``dots_ocr_spark`` installs: an unchanged archive is not re-read, a changed
or missing one behaves as with the stock method, and every Python task of
a reused Spark worker skips the re-read PySpark's per-task
``importlib.invalidate_caches()`` would otherwise cost."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import dots_ocr_spark


@pytest.fixture
def read_count(monkeypatch):
    """Count zip directory reads, i.e. archive re-reads."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipcache_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path, read_count):
    assert importlib.import_module("zipcache_mod_a").VALUE == "a"
    assert isinstance(sys.path_importer_cache[zip_on_path],
                      zipimport.zipimporter)
    importlib.invalidate_caches()   # records each importer's archive stat
    read_count.clear()
    importlib.invalidate_caches()
    assert read_count == []


def test_rewritten_archive_is_reread_and_new_module_imports(
        zip_on_path, read_count):
    importlib.import_module("zipcache_mod_a")
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zipcache_mod_a": "VALUE = 'a'\n",
                             "zipcache_mod_b": "VALUE = 'b'\n"})
    read_count.clear()
    importlib.invalidate_caches()
    assert zip_on_path in read_count
    assert importlib.import_module("zipcache_mod_b").VALUE == "b"


def test_deleted_archive_raises_nothing(zip_on_path):
    importlib.import_module("zipcache_mod_a")
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[zip_on_path]._files == {}


def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.stat_checked
    dots_ocr_spark._install_stat_checked_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert not getattr(installed.__wrapped__, "stat_checked", False)


def test_reused_worker_task_rereads_no_archive(spark):
    def probe(batches):
        """Report the installed method and how many archives one
        ``importlib.invalidate_caches()`` re-reads in this worker. Defined
        here so that it is pickled by value: a worker cannot import this
        test module."""
        import importlib
        import sys
        import zipimport

        import dots_ocr_spark  # noqa: F401  (what the program's UDFs import)

        for _ in batches:
            pass
        read = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "stat_checked": [getattr(method, "stat_checked", False)],
            "zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                                  for f in sys.path_importer_cache.values())],
            "reads": [len(reads)],
        })

    schema = "stat_checked boolean, zip_importers int, reads int"
    df = spark.range(0, 8, numPartitions=2)
    df.mapInPandas(probe, schema=schema).collect()
    second = df.mapInPandas(probe, schema=schema).collect()
    assert len(second) == 2
    for row in second:
        assert row.stat_checked and row.zip_importers > 0, row
        assert row.reads == 0, row

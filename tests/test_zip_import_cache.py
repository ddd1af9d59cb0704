"""The stat-guarded zip import cache (kernels/zip_import_cache.py): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is, and the guard only installs in PySpark workers on
CPython < 3.13."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.core.files import SparkFiles

from text_dedup_spark.kernels import zip_import_cache

before_313 = pytest.mark.skipif(
    sys.version_info[:2] >= (3, 13), reason="the guard only installs on CPython < 3.13"
)


@pytest.fixture
def original_invalidate(monkeypatch):
    """Start from (and restore) the stock ``zipimporter.invalidate_caches``."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zip_import_cache._reread)


@pytest.fixture
def worker(monkeypatch, original_invalidate):
    """This process marked as a PySpark worker, with the guard installed."""
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert zip_import_cache.install_if_worker()


@pytest.fixture
def reads(monkeypatch):
    """Archive paths ``zipimport`` read a central directory from, in order."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _import_from_zip(monkeypatch, tmp_path, reads, tag: str) -> str:
    """Import a module from a fresh zip on ``sys.path``; ``reads`` starts
    empty after it."""
    archive = tmp_path / f"lib_{tag}.zip"
    _write_zip(archive, {f"zmod_{tag}_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, f"zmod_{tag}_a", raising=False)
    assert importlib.import_module(f"zmod_{tag}_a").VALUE == 1
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)
    reads.clear()
    return str(archive)


@before_313
def test_unchanged_zip_is_not_reread(original_invalidate, reads, monkeypatch, tmp_path):
    """Installing keys the importers already cached with one read each; an
    importer created later is keyed by its first guarded call."""
    before = _import_from_zip(monkeypatch, tmp_path, reads, "before")
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert zip_import_cache.install_if_worker()
    assert reads.count(before) == 1
    assert zip_import_cache.install_if_worker()  # already installed: no re-key
    after = _import_from_zip(monkeypatch, tmp_path, reads, "after")
    importlib.invalidate_caches()
    assert (reads.count(before), reads.count(after)) == (0, 1)
    for _ in range(3):
        importlib.invalidate_caches()
    assert (reads.count(before), reads.count(after)) == (0, 1)


@before_313
def test_rewritten_zip_is_reread_and_new_module_imports(worker, reads, monkeypatch, tmp_path):
    archive = _import_from_zip(monkeypatch, tmp_path, reads, "new")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zmod_new_b")
    _write_zip(tmp_path / "lib_new.zip", {"zmod_new_a": "VALUE = 1\n", "zmod_new_b": "VALUE = 2\n"})
    monkeypatch.delitem(sys.modules, "zmod_new_b", raising=False)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zmod_new_b").VALUE == 2


@before_313
def test_stock_behaviour_rereads_every_call(original_invalidate, reads, monkeypatch, tmp_path):
    """What the guard saves: without it every call re-reads the archive."""
    archive = _import_from_zip(monkeypatch, tmp_path, reads, "stock")
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 3


def test_inactive_on_the_driver(original_invalidate, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    assert not zip_import_cache.in_pyspark_worker()
    assert not zip_import_cache.install_if_worker()
    assert zipimport.zipimporter.invalidate_caches is zip_import_cache._reread


def test_inactive_on_python_3_13(original_invalidate, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not zip_import_cache.install_if_worker()
    assert zipimport.zipimporter.invalidate_caches is zip_import_cache._reread


@before_313
def test_installed_in_spark_python_workers(spark):
    """Loading the kernels in a real worker installs the guard there."""

    def probe(batches):
        import zipimport

        import pandas as pd

        from text_dedup_spark.kernels import zip_import_cache as z

        for _ in batches:
            guarded = zipimport.zipimporter.invalidate_caches is z._invalidate_if_changed
            yield pd.DataFrame({"guarded": [guarded]})

    rows = spark.range(4).repartition(2).mapInPandas(probe, "guarded boolean").collect()
    assert rows and all(r.guarded for r in rows)

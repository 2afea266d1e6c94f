"""The extraction boundary's per-worker ``zipimporter.invalidate_caches``:
an archive's directory is re-read only when the archive changed, so the
worker's per-task ``importlib.invalidate_caches()`` stops re-reading
``pyspark.zip``. All but the last test are Spark-free."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from poc_document_ocr_spark.operators import extraction

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zipimporter caches lazily itself",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``a`` at the front of ``sys.path``, ``a``
    imported from it; ``sys.path``, ``sys.modules`` and the stdlib method
    are restored afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["a"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(path)
    for name in ("a", "b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("a").NAME == "a"
    yield path
    sys.path_importer_cache.pop(path, None)
    for name in ("a", "b"):
        sys.modules.pop(name, None)


@eager
def test_lazy_zip_invalidate_skips_unchanged_archive(zip_on_path, monkeypatch):
    reads = []
    stdlib_read = zipimport._read_directory

    def counting(archive):
        if archive == zip_on_path:
            reads.append(archive)
        return stdlib_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert len(reads) == 1  # the stdlib method re-reads eagerly

    extraction._install_lazy_zip_invalidate()
    extraction._install_lazy_zip_invalidate()
    importlib.invalidate_caches()  # no key recorded yet: one read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2


@eager
def test_lazy_zip_invalidate_sees_rewritten_archive(zip_on_path):
    extraction._install_lazy_zip_invalidate()
    importlib.invalidate_caches()
    _write_zip(zip_on_path, ["a", "b"])
    importlib.invalidate_caches()
    assert importlib.import_module("b").NAME == "b"


@eager
def test_lazy_zip_invalidate_survives_deleted_archive(zip_on_path):
    """A deleted archive empties the importer; the same archive put back
    with its old ``(st_mtime_ns, st_size)`` is read again."""
    extraction._install_lazy_zip_invalidate()
    importlib.invalidate_caches()
    st = os.stat(zip_on_path)
    with open(zip_on_path, "rb") as f:
        data = f.read()
    os.remove(zip_on_path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[zip_on_path]._files == {}

    with open(zip_on_path, "wb") as f:
        f.write(data)
    os.utime(zip_on_path, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    del sys.modules["a"]
    assert importlib.import_module("a").NAME == "a"


def test_lazy_zip_invalidate_not_installed_from_3_13(zip_on_path, monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        extraction._install_lazy_zip_invalidate()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@eager
def test_every_task_extracts_after_lazy_zip_install(spark):
    """Each worker task installs the method before its first row, so
    every row's probe sees it."""
    from poc_document_ocr_spark.operators.extraction import extract_turns

    def probe(text):
        import zipimport

        from poc_document_ocr_spark.operators import extraction

        installed = (
            zipimport.zipimporter.invalidate_caches
            is extraction._lazy_zip_invalidate
        )
        return ("", [], str(installed), "plain")

    df = spark.range(64).selectExpr("id", "CAST(id AS STRING) AS text")
    rules = [
        r.rule
        for r in extract_turns(df.repartition(8), extract_fn=probe).collect()
    ]
    assert rules == ["True"] * 64

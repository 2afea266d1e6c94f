"""The extraction boundary's per-task worker hook, ``_task_entry``.

It installs a per-worker ``zipimporter.invalidate_caches`` that re-reads
an archive's directory only when the archive changed, so the worker's
per-task ``importlib.invalidate_caches()`` stops re-reading
``pyspark.zip``; and it freezes the worker's heap, so the daemon's
post-task ``gc.collect()`` walks only what the task allocated. The tests
whose names contain ``every_task`` or ``worker`` start Spark; the rest are
Spark-free."""

import gc
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

    # the install records the key of the directory just read: no more reads
    extraction._install_lazy_zip_invalidate()
    extraction._install_lazy_zip_invalidate()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


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


def test_task_entry_freezes_heap_and_is_idempotent(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    try:
        extraction._task_entry()
        frozen = gc.get_freeze_count()
        installed = zipimport.zipimporter.invalidate_caches
        assert frozen > 0
        extraction._task_entry()
        assert gc.get_freeze_count() >= frozen
        assert zipimport.zipimporter.invalidate_caches is installed
        if sys.version_info < (3, 13):
            assert installed is extraction._lazy_zip_invalidate
        else:
            assert installed is stdlib
    finally:
        gc.unfreeze()


def test_every_task_frozen_set_stays_flat(spark):
    """Each task freezes at entry, and what a worker freezes does not grow
    from pass to pass: nothing a task leaves behind piles up there."""
    from poc_document_ocr_spark.operators.extraction import extract_turns

    def frozen(text):
        import gc

        return ("", [], str(gc.get_freeze_count()), "plain")

    df = spark.range(64).selectExpr("id", "CAST(id AS STRING) AS text")
    df = df.repartition(8).cache()
    df.count()
    try:
        passes = [
            [int(r.rule) for r in extract_turns(df, extract_fn=frozen).collect()]
            for _ in range(5)
        ]
    finally:
        df.unpersist()
    assert all(n > 0 for counts in passes for n in counts)
    assert max(passes[-1]) <= max(passes[1])


def test_worker_collects_a_task_cycle_before_its_next_task(spark):
    """A reference cycle that one task creates and drops is not in the
    frozen set: by the same worker's next task it has been collected."""
    from poc_document_ocr_spark.operators.extraction import extract_turns

    def probe(text):
        import sys
        import types
        import weakref

        from pyspark import TaskContext

        state = sys.modules.setdefault(
            "_task_cycle_probe", types.ModuleType("_task_cycle_probe"))
        task = TaskContext.get().taskAttemptId()
        if getattr(state, "task", None) != task:
            ref = getattr(state, "ref", None)
            state.prev_dead = None if ref is None else ref() is None
            state.task = task

            class Node:
                pass

            node = Node()
            node.me = node
            state.ref = weakref.ref(node)
        return ("", [], str(state.prev_dead), "plain")

    df = spark.range(64).selectExpr("id", "CAST(id AS STRING) AS text")
    df = df.repartition(8).cache()
    df.count()
    try:
        rules = [
            r.rule
            for _ in range(3)
            for r in extract_turns(df, extract_fn=probe).collect()
        ]
    finally:
        df.unpersist()
    assert "True" in rules
    assert "False" not in rules

"""The per-task zip re-read guard (orc_rust_spark.worker_setup): an
unchanged archive is not re-parsed by importlib.invalidate_caches(), a
changed or deleted one behaves exactly as with the standard method, and the
guard is installed only inside PySpark workers on CPython < 3.13."""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from orc_rust_spark import worker_setup


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def in_worker(monkeypatch):
    """Pretend to be a PySpark worker; restore the stdlib method after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_setup, "_signatures", {})
    monkeypatch.setitem(sys.modules, "pyspark.worker_util",
                        types.ModuleType("pyspark.worker_util"))


@pytest.fixture
def read_counter(monkeypatch):
    reads = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, in_worker, read_counter):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wsg_mod_a"])
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wsg_mod_a").NAME == "wsg_mod_a"
        assert worker_setup.install()
        assert worker_setup.install()  # idempotent
        assert zipimport.zipimporter.invalidate_caches is worker_setup._invalidate_caches
        read_counter.clear()
        importlib.invalidate_caches()  # first call records the signature
        assert read_counter.count(archive) == 1
        read_counter.clear()
        for _ in range(5):
            importlib.invalidate_caches()
        assert read_counter == []

        # a rewritten archive is read again and its new module imports
        _write_zip(archive, ["wsg_mod_a", "wsg_mod_b"])
        importlib.invalidate_caches()
        assert read_counter.count(archive) >= 1
        assert importlib.import_module("wsg_mod_b").NAME == "wsg_mod_b"
        read_counter.clear()
        importlib.invalidate_caches()
        assert read_counter == []

        # a deleted archive falls through to the stdlib method, which drops it
        os.remove(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
    finally:
        for name in ("wsg_mod_a", "wsg_mod_b"):
            sys.modules.pop(name, None)


def test_replaced_archive_is_reread(tmp_path, monkeypatch, in_worker, read_counter):
    """A new file under the same name (a new inode) is read again even
    though its size is unchanged."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wsg_mod_c"])
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module("wsg_mod_c")
        worker_setup.install()
        importlib.invalidate_caches()
        read_counter.clear()
        staged = str(tmp_path / "staged.zip")
        _write_zip(staged, ["wsg_mod_d"])
        assert os.path.getsize(staged) == os.path.getsize(archive)
        keep = str(tmp_path / "old.zip")
        os.link(archive, keep)  # hold the old inode so it is not reused
        os.replace(staged, archive)
        importlib.invalidate_caches()
        assert read_counter.count(archive) >= 1
        assert importlib.import_module("wsg_mod_d").NAME == "wsg_mod_d"
    finally:
        for name in ("wsg_mod_c", "wsg_mod_d"):
            sys.modules.pop(name, None)


def test_install_is_a_noop_outside_a_worker(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    monkeypatch.delitem(sys.modules, "pyspark.worker_util", raising=False)
    assert not worker_setup.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_install_is_a_noop_on_python_313(monkeypatch, in_worker):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not worker_setup.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def test_guard_in_reused_spark_worker(spark):
    """In a reused worker the engine import installs the guard, and a later
    task's invalidate_caches() parses no archive."""
    schema = "pid long, guard boolean, reads long"

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pyarrow as pa

        import orc_rust_spark.worker_setup as ws

        for _ in batches:
            pass
        reads = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or original(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "guard": [zipimport.zipimporter.invalidate_caches is ws._invalidate_caches],
            "reads": [len(reads)],
        })

    src = spark.range(0, 8, numPartitions=1)
    seen, later = set(), []
    for _ in range(8):
        (row,) = src.mapInArrow(probe, schema).collect()
        if row.pid in seen:
            later.append(row)
        seen.add(row.pid)
    # the Spark driver process keeps the stdlib method
    assert zipimport.zipimporter.invalidate_caches is not worker_setup._invalidate_caches
    assert later, "no Python worker was reused"
    assert all(r.guard for r in later)
    assert [r.reads for r in later] == [0] * len(later)

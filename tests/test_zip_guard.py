"""The stat guard on ``zipimporter.invalidate_caches`` that Spark's Python
workers install when they import ``wireduck_spark``: an unchanged
archive is not re-read, a changed or deleted one behaves as stdlib, and
the driver process keeps the stdlib method."""

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

import wireduck_spark
from wireduck_spark.sources.pcap import register

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def reads(monkeypatch):
    """Install the guard for this test only and count directory reads."""
    monkeypatch.setattr(zipimport, "_zip_directory_cache",
                        dict(zipimport._zip_directory_cache))
    # monkeypatch restores the class attribute the guard replaces
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    calls = []
    read = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _load(importer, name):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = type(sys)(name)
    spec.loader.exec_module(module)
    return module


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wd_guard_a"])
    importer = zipimport.zipimporter(archive)
    wireduck_spark._guard_zip_directories()
    wireduck_spark._guard_zip_directories()  # idempotent
    del reads[:]
    for _ in range(3):
        importer.invalidate_caches()
    assert reads == []
    assert importer._files is zipimport._zip_directory_cache[archive]
    assert _load(importer, "wd_guard_a").NAME == "wd_guard_a"


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["wd_guard_a"])
    importer = zipimport.zipimporter(archive)
    wireduck_spark._guard_zip_directories()
    assert importer.find_spec("wd_guard_b") is None
    _write_zip(archive, ["wd_guard_a", "wd_guard_b"])
    del reads[:]
    importer.invalidate_caches()
    assert reads == [archive]
    assert _load(importer, "wd_guard_b").NAME == "wd_guard_b"
    importer.invalidate_caches()
    assert reads == [archive]


def _after_delete(tmp_path, name):
    archive = str(tmp_path / name)
    _write_zip(archive, ["wd_guard_a"])
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    os.remove(archive)
    importer.invalidate_caches()
    return (importer._files, archive in zipimport._zip_directory_cache,
            importer.find_spec("wd_guard_a"))


def test_deleted_archive_behaves_as_stdlib(tmp_path, reads):
    stdlib = _after_delete(tmp_path, "stdlib.zip")
    wireduck_spark._guard_zip_directories()
    assert _after_delete(tmp_path, "guarded.zip") == stdlib == ({}, False,
                                                                 None)


def _method_module(main_spec=None):
    """The module of ``zipimporter.invalidate_caches`` after a fresh
    process imports wireduck_spark with ``__main__.__spec__`` named
    ``main_spec``."""
    code = (
        "import importlib.machinery, sys, zipimport\n"
        f"if {main_spec!r}:\n"
        "    sys.modules['__main__'].__spec__ = "
        f"importlib.machinery.ModuleSpec({main_spec!r}, None)\n"
        "import wireduck_spark\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=120)
    return out.stdout.strip()


def test_driver_keeps_stdlib_method():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert _method_module() == "zipimport"
    assert _method_module("pyspark.daemon") == "wireduck_spark"


def test_worker_tasks_do_not_reread_archives(spark):
    """In each Python worker, every task after the first reads no zip
    directory, though PySpark invalidates import caches per task."""

    def probe(_):
        import os
        import zipimport

        import wireduck_spark  # noqa: F401  (installs the guard)

        state = zipimport.__dict__.setdefault(
            "_wd_probe", {"reads": 0, "tasks": 0})
        if not state.get("counting"):
            read = zipimport._read_directory

            def counted(archive):
                state["reads"] += 1
                return read(archive)

            zipimport._read_directory = counted
            state["counting"] = True
        n, state["reads"] = state["reads"], 0
        state["tasks"] += 1
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "_stat_guarded", False)
        yield os.getpid(), state["tasks"], n, guarded

    # puts the package zip on the workers' path, as every pcap read does
    register(spark)
    rows = (spark.sparkContext.parallelize(range(16), 16)
            .mapPartitions(probe).collect())
    assert len(rows) == 16
    assert all(guarded for *_, guarded in rows)
    later = [(pid, task, n) for pid, task, n, _ in rows if task > 1]
    assert later, "no worker ran two tasks; nothing was measured"
    assert [r for r in later if r[2]] == []

"""Worker zip-reread guard (plans/worker.py): stdlib semantics on change,
no re-read when unchanged, installed in worker tasks only."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from co_new_spark.plans.worker import guard_zip_rereads

_STDLIB = zipimport.zipimporter.invalidate_caches


def _write_zip(path, members):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in members:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip holding ``m1`` on sys.path, imported once, the guard installed
    and ``_read_directory`` calls on that archive counted.  Teardown restores
    the stdlib method, sys.path and the imported modules."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m1"])
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _STDLIB)
    monkeypatch.syspath_prepend(path)
    for m in ("m1", "m2"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        if archive == path:
            reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.import_module("m1")
    assert guard_zip_rereads()
    importlib.invalidate_caches()     # an importer's first guarded call reads
    reads.clear()
    yield path, reads
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for m in ("m1", "m2"):
        sys.modules.pop(m, None)


def test_unchanged_zip_is_not_reread(guarded_zip):
    _, reads = guarded_zip
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread_once(guarded_zip):
    path, reads = guarded_zip
    _write_zip(path, ["m1", "m2"])
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("m2").NAME == "m2"
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_missing_zip_takes_the_stdlib_path(guarded_zip):
    path, reads = guarded_zip
    os.remove(path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2              # stdlib tries (and fails) every time
    assert sys.path_importer_cache[path]._files == {}


def test_second_install_does_not_double_wrap(guarded_zip):
    wrapped = zipimport.zipimporter.invalidate_caches
    assert guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is _STDLIB


def test_install_is_a_noop_from_python_312(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _STDLIB)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not guard_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is _STDLIB


def test_worker_tasks_run_guarded_and_driver_does_not(spark):
    def probe(_):
        import os
        import sys
        import zipimport

        import co_new_spark  # noqa: F401  the install hook runs on import

        fn = zipimport.zipimporter.invalidate_caches
        ours = (hasattr(fn, "__wrapped__") and fn.__code__.co_filename
                .endswith(os.path.join("plans", "worker.py")))
        return sys.version_info < (3, 12), ours

    got = spark.sparkContext.parallelize(range(4), 4).map(probe).collect()
    assert got and all(want == ours for want, ours in got)
    assert zipimport.zipimporter.invalidate_caches is _STDLIB

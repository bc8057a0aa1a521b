"""session.guard_worker_zip_imports: in a PySpark worker on CPython
3.10-3.12, importlib.invalidate_caches() re-reads a zip archive on
sys.path only when the archive changed on disk (st_mtime_ns, st_size),
instead of once per cached zipimporter at the start of every task.
The guard semantics run Spark-free on a real zip on sys.path; the last
test checks a real worker."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from tokcodec import session

EAGER = (3, 10) <= sys.version_info[:2] < (3, 13)
eager_only = pytest.mark.skipif(
    not EAGER, reason="zipimporter invalidation is lazy here")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zgpkg/__init__.py", "")
        for name, value in modules.items():
            z.writestr(f"zgpkg/{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package zgpkg (module a) first on sys.path, with
    zgpkg.a imported (two zipimporters over it: the archive's and the
    package's), the zipimporter method and the guard's stats restored
    afterwards, and a counter of directory reads of this archive."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"a": 1})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(session, "_ZIP_STATS", {})
    reads = []
    real = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, path)
    try:
        importlib.import_module("zgpkg.a")
        reads.clear()
        yield path, reads
    finally:
        sys.path.remove(path)
        for key in [k for k in sys.path_importer_cache
                    if k.startswith(path)]:
            del sys.path_importer_cache[key]
        for name in [m for m in sys.modules if m.split(".")[0] == "zgpkg"]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(path, None)


def _in_worker(monkeypatch):
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")


@eager_only
def test_unguarded_invalidation_rereads_per_importer(archive):
    _path, reads = archive
    importlib.invalidate_caches()
    assert len(reads) == 2  # one per zipimporter over the archive


@eager_only
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    _path, reads = archive
    _in_worker(monkeypatch)
    assert session.guard_worker_zip_imports()
    importlib.invalidate_caches()  # first read since install: records
    assert len(reads) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zgpkg.a").VALUE == 1


@eager_only
def test_rewritten_archive_is_reread(archive, monkeypatch):
    path, reads = archive
    _in_worker(monkeypatch)
    session.guard_worker_zip_imports()
    importlib.invalidate_caches()
    _write_zip(path, {"a": 1, "b": 2})
    with pytest.raises(ImportError):  # no invalidation yet
        importlib.import_module("zgpkg.b")
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zgpkg.b").VALUE == 2


@eager_only
def test_install_twice_does_not_double_wrap(archive, monkeypatch):
    _in_worker(monkeypatch)
    assert session.guard_worker_zip_imports()
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded.stat_checked
    assert session.guard_worker_zip_imports()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_nothing_installed_outside_a_worker(archive, monkeypatch):
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    real = zipimport.zipimporter.invalidate_caches
    assert not session.guard_worker_zip_imports()
    assert zipimport.zipimporter.invalidate_caches is real


def test_nothing_installed_where_invalidation_is_lazy(archive,
                                                      monkeypatch):
    _in_worker(monkeypatch)
    real = zipimport.zipimporter.invalidate_caches
    for version in [(3, 13, 0, "final", 0), (3, 9, 18, "final", 0)]:
        monkeypatch.setattr(sys, "version_info", version)
        assert not session.guard_worker_zip_imports()
        assert zipimport.zipimporter.invalidate_caches is real


@eager_only
def test_warmed_workers_have_the_guard(spark):
    """Every worker that imported tokcodec has the guard, a warmed
    worker already before the task imports tokcodec; the driver's
    zipimport is untouched."""
    session.warm_python_workers(spark, waves=1)
    k = spark.sparkContext.defaultParallelism

    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass

        def guarded():
            return getattr(zipimport.zipimporter.invalidate_caches,
                           "stat_checked", False)

        warm, before = "tokcodec" in sys.modules, guarded()
        import tokcodec  # noqa: F401

        yield pa.RecordBatch.from_pydict(
            {"warm": [warm], "before": [before], "after": [guarded()]})

    rows = spark.range(0, k, 1, k).mapInArrow(
        report, "warm boolean, before boolean, after boolean").collect()
    assert len(rows) == k
    assert all(r.after for r in rows), rows
    assert all(r.before == r.warm for r in rows), rows
    assert any(r.warm for r in rows), rows
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "stat_checked")

"""The zip-directory guard (``arrow_zarr_spark._zipguard``) and the lazy
re-exports of ``arrow_zarr_spark.zarr``.

Spark calls ``importlib.invalidate_caches()`` at the start of every
Python worker call; on CPython < 3.13 the stdlib then re-reads every zip
importer's archive. The guard must read each unchanged archive at most
once, and re-read a changed one exactly as the stdlib does.
"""

import importlib
import os
import subprocess
import sys
import threading
import zipfile
import zipimport

import numpy as np
import pytest

from arrow_zarr_spark import _zipguard

GUARDED = (3, 10) <= sys.version_info < (3, 13)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, pkg, extra=()):
    """A package with a subpackage (so several importers share the
    archive), written beside ``path`` and moved over it."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/sub/__init__.py", "")
        zf.writestr(f"{pkg}/sub/mod.py", "X = 1\n")
        for name in extra:
            zf.writestr(f"{pkg}/sub/{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def zipped_pkg(tmp_path, request):
    """(archive, package name) importable from sys.path; all traces of
    both are removed afterwards."""
    pkg = f"azs_zipguard_{request.node.name}"
    archive = str(tmp_path / f"{pkg}.zip")
    _write_zip(archive, pkg)
    sys.path.insert(0, archive)
    try:
        importlib.import_module(f"{pkg}.sub.mod")
        yield archive, pkg
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        _zipguard._read_at.pop(archive, None)


def _importers(archive):
    return [imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive == archive]


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.mark.skipif(not GUARDED, reason="the guard is installed on 3.10-3.12 only")
class TestGuard:
    def test_installed_over_the_stdlib_method(self):
        assert zipimport.zipimporter.invalidate_caches is _zipguard.invalidate_caches

    def test_unchanged_archive_read_at_most_once(self, zipped_pkg, reads):
        archive, _ = zipped_pkg
        assert len(_importers(archive)) >= 2
        importlib.invalidate_caches()
        assert reads.count(archive) <= 1
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        assert archive not in reads
        shared = zipimport._zip_directory_cache[archive]
        assert all(imp._files is shared for imp in _importers(archive))

    def test_every_archive_on_the_path_read_at_most_once(self, zipped_pkg, reads):
        importlib.invalidate_caches()
        assert len(reads) == len(set(reads))
        del reads[:]
        importlib.invalidate_caches()
        assert reads == []

    def test_rewritten_archive_is_reread(self, zipped_pkg, reads):
        archive, pkg = zipped_pkg
        importlib.invalidate_caches()
        _write_zip(archive, pkg, extra=("added",))
        del reads[:]
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(f"{pkg}.sub.added").NAME == "added"
        importlib.invalidate_caches()
        assert reads == [archive]

    def test_unreadable_archive_behaves_as_the_stdlib(self, zipped_pkg, reads):
        archive, pkg = zipped_pkg
        importlib.invalidate_caches()
        with open(archive, "wb") as f:
            f.write(b"not a zip")
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert all(imp._files == {} for imp in _importers(archive))
        # Still broken: retried on each call, as the stdlib does.
        del reads[:]
        importlib.invalidate_caches()
        assert reads.count(archive) == len(_importers(archive))
        _write_zip(archive, pkg, extra=("back",))
        importlib.invalidate_caches()
        assert importlib.import_module(f"{pkg}.sub.back").NAME == "back"

    def test_racing_threads_leave_the_current_directory(self, zipped_pkg):
        """More threads than cores invalidate while the archive is
        rewritten; once they stop, one more call must leave every importer
        on the archive's current directory."""
        archive, pkg = zipped_pkg
        stop = threading.Event()

        def spin():
            while not stop.is_set():
                importlib.invalidate_caches()

        threads = [threading.Thread(target=spin)
                   for _ in range(len(os.sched_getaffinity(0)) + 2)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for i in range(20):
                _write_zip(archive, pkg, extra=[f"m{j}" for j in range(i + 1)])
        finally:
            stop.set()
            for t in threads:
                t.join(timeout=60)
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        importlib.invalidate_caches()
        current = zipimport._read_directory(archive)
        assert all(imp._files == current for imp in _importers(archive))
        assert importlib.import_module(f"{pkg}.sub.m19").NAME == "m19"


@pytest.mark.skipif(sys.version_info < (3, 13), reason="the guard is installed before 3.13")
def test_nothing_patched_on_313_and_later():
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_guard_active_in_a_reused_spark_worker(spark, tmp_path):
    """A zarr query, then a one-task job on the SQL Python workers. The
    task imports the package only if its worker has not (a worker that
    ran a zarr read already has), then counts the archives a further
    ``invalidate_caches()`` reads."""
    from arrow_zarr_spark.zarr import write_store

    write_store(str(tmp_path / "s"), arrays={"v": np.arange(64.0)},
                chunk_shapes={"v": (8,)})
    df = spark.read.format("zarr").load(str(tmp_path / "s"))
    assert df.filter("v < 20").count() == 20

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        import pyarrow as pa

        for _ in batches:
            pass
        preloaded = "arrow_zarr_spark._zipguard" in s.modules
        il.import_module("arrow_zarr_spark")
        seen = []
        real = zi._read_directory

        def counting(archive):
            seen.append(archive)
            return real(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
            first = list(seen)
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        archives = {imp.archive for imp in s.path_importer_cache.values()
                    if isinstance(imp, zi.zipimporter)}
        names = pa.list_(pa.string())
        yield pa.RecordBatch.from_pylist([{
            "preloaded": preloaded,
            "owner": zi.zipimporter.invalidate_caches.__module__,
            "first": first,
            "second": seen[len(first):],
            "archives": sorted(archives),
        }], schema=pa.schema([("preloaded", pa.bool_()), ("owner", pa.string()),
                              ("first", names), ("second", names),
                              ("archives", names)]))

    schema = ("preloaded boolean, owner string, first array<string>, "
              "second array<string>, archives array<string>")
    [row] = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()
    assert row.archives, "a Spark worker imports from zip archives"
    if not GUARDED:
        assert row.owner == "zipimport"
        return
    assert row.owner == "arrow_zarr_spark._zipguard"
    assert len(row.first) == len(set(row.first))
    if row.preloaded:
        assert row.first == []
    assert row.second == []


def test_scan_path_does_not_import_versions():
    code = ("import sys, arrow_zarr_spark.datasource; "
            "print('arrow_zarr_spark.zarr.versions' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                         capture_output=True, text=True, timeout=120)
    assert out.stdout.strip() == "False"


def test_lazy_reexports_resolve():
    import arrow_zarr_spark.zarr as Z
    from arrow_zarr_spark.zarr import commit_version
    from arrow_zarr_spark.zarr import versions as V

    assert commit_version is V.commit_version
    for name in Z.__all__:
        assert getattr(Z, name).__name__ == name
    with pytest.raises(AttributeError):
        Z.no_such_name

"""Lazy zipimport invalidation (``zipcache``): an unchanged archive is not
re-read on ``importlib.invalidate_caches()``, a rewritten one is, by every
importer over it, and a PySpark worker that ran engine code runs the
wrapper before its next task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from elasticsearch_data_import_handler_spark import zipcache


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path and a counter of its directory reads."""
    path = str(tmp_path / "lazy_mods.zip")
    _write_zip(path, {"zc_mod_a.py": "X = 1\n",
                      "zc_pkg/__init__.py": "", "zc_pkg/sub.py": "Y = 2\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for m in ("zc_mod_a", "zc_mod_b", "zc_pkg", "zc_pkg.sub"):
        sys.modules.pop(m, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def test_install_is_idempotent():
    assert zipcache.installed()  # the package installs it on import
    before = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(before.__wrapped__, "_eidh_lazy", False)


def test_install_takes_present_importers_as_read(zip_on_path, monkeypatch):
    """Importers that exist at install are stamped, not re-read: in a
    worker, install runs just after the task-start re-read."""
    path, reads = zip_on_path
    wrapper = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        wrapper.__wrapped__)
    import zc_mod_a  # noqa: F401

    zipcache.install()
    assert zipcache.installed()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_unchanged_archive_is_not_reread(zip_on_path):
    path, reads = zip_on_path
    import zc_mod_a  # noqa: F401
    import zc_pkg.sub  # noqa: F401  (a second importer, over path/zc_pkg)

    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(path) and isinstance(v, zipimport.zipimporter)]
    assert len(importers) == 2
    reads.clear()
    importlib.invalidate_caches()  # importers the wrapper has not seen re-read once
    assert len(reads) == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 2


def test_rewritten_archive_is_reread_by_every_importer(zip_on_path):
    path, reads = zip_on_path
    import zc_mod_a  # noqa: F401
    import zc_pkg.sub  # noqa: F401

    importlib.invalidate_caches()
    n = len(reads)
    # new size: both importers of the archive re-read, and a module added
    # to it imports
    _write_zip(path, {"zc_mod_a.py": "X = 1\n", "zc_mod_b.py": "Z = 3\n",
                      "zc_pkg/__init__.py": "", "zc_pkg/sub.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == n + 2
    import zc_mod_b
    assert zc_mod_b.Z == 3
    importlib.invalidate_caches()
    assert len(reads) == n + 2
    # same size, new mtime: re-read again
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == n + 4


def test_worker_runs_the_wrapper_from_its_second_task(spark):
    """1-partition mapInArrow tasks of a UDF that calls engine code: once a
    worker has run one of them, the task-start ``importlib.invalidate_caches()``
    of its next task goes through the wrapper.  Idle workers are handed out
    in turn, so the job repeats until one worker has run it twice."""

    def report(batches):
        from elasticsearch_data_import_handler_spark import zipcache as zc

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "installed": [zc.installed()],
            "wrapped_calls": [zc.stats["rereads"] + zc.stats["skipped"]]})

    df = spark.range(1, numPartitions=1).mapInArrow(
        report, "pid long, installed boolean, wrapped_calls long")
    seen = {}
    for _ in range(16):
        r = df.collect()[0]
        assert r.installed
        if r.pid in seen:
            assert r.wrapped_calls > seen[r.pid].wrapped_calls, (seen[r.pid], r)
            return
        seen[r.pid] = r
    pytest.fail(f"no worker ran the task twice: {sorted(seen)}")

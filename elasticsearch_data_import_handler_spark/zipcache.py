"""Lazy zipimport invalidation: keep PySpark's per-task import-cache reset
from re-reading pyspark.zip.

Before every task, a PySpark Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``) so that files added with ``addPyFile`` become
importable.  On CPython 3.11 each ``zipimport.zipimporter`` answers that
call by re-reading its archive's whole central directory at once, and a
worker holds one importer per imported package of ``pyspark.zip`` (1,328
entries) and of py4j's zip — about 16 full re-reads, 0.2–0.3 s of every
Python task, against ~3 ms for a single query's WAND kernel.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
changed since that importer last read it.  The stamp is kept per importer
instance, not per archive path: the importers of one archive each hold
their own directory, and each must see a rewritten archive.  Where the
stdlib already invalidates lazily, the wrapper only skips a cheap call, so
there is no version branch.  Directory finders (``FileFinder``) are not
touched, so a file added to a directory still shows up at once.

The package installs the wrapper when it is imported.  Every engine UDF
imports the package in its worker when the UDF is unpickled, which is just
after that task's ``invalidate_caches()`` re-read every archive, so
:func:`install` stamps the importers already present as read now; an
importer created later re-reads once, on its first call.  A worker thus
skips the re-reads from its next task on.  The driver process gets the
wrapper too, where it only spares its own ``invalidate_caches`` calls (and
takes its importers as current when the package is imported).
"""

from __future__ import annotations

import functools
import os
import sys
import weakref
import zipimport

# importer → the (st_mtime_ns, st_size) of its archive when it last read it
_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
stats = {"rereads": 0, "skipped": 0}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; a second call is a
    no-op."""
    if installed():
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        # stat before reading: a rewrite in between leaves a stale stamp,
        # which only costs one more re-read
        stamp = _stamp(self.archive)
        if stamp is not None and _stamps.get(self) == stamp:
            stats["skipped"] += 1
            return
        reread(self)
        _stamps[self] = stamp
        stats["rereads"] += 1

    invalidate_caches._eidh_lazy = True
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            _stamps[finder] = _stamp(finder.archive)


def installed() -> bool:
    """Whether this process's zipimporters invalidate lazily."""
    return getattr(zipimport.zipimporter.invalidate_caches, "_eidh_lazy", False)

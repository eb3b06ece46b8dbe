"""Segment doc maps and tombstones: the ``ord → doc_id`` array of one
``(batch, salt)`` segment of an index, and the doc_ids a batch tombstoned
in one salt.

Postings name a document by its dense ordinal inside its ``(batch, salt)``
segment (functions/varbyte.py).  The segment's doc rows, in
``doc_stats/batch=K/__t=d/salt=S/``, carry ``ord`` beside ``doc_id``; ord is
the doc_id's rank in the segment, so the map is the segment's doc_ids in
ascending order and ``np.searchsorted`` inverts it.  The doc_ids a batch
deleted lie beside them, in ``doc_stats/batch=K/__t=t/salt=S/``, sharded by
the same doc-hash salt.

Both decode sites — the posting explode of plans/build.py (TAAT scans, df
corrections, compaction) and the WAND kernel — read maps through
:class:`DocMaps`, and the WAND kernel reads its group's deleted doc_ids
there too, in the process that scores.  A Python worker caches the arrays
it has read, keyed by the directory and the ``(path, st_mtime_ns,
st_size)`` of each of its files — the rule zipcache.py applies to archives
— so a rewritten segment is read anew, never served stale.  The cache holds
at most ``_CACHE_BYTES`` of arrays and drops the least recently used first.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np

_CACHE_BYTES = 256 << 20   # 32M docs' maps per Python worker
_cache: OrderedDict = OrderedDict()
_cached = {"bytes": 0}


def segment_dir(index_dir: str, batch: int, salt: int, kind: str = "d") -> str:
    """The dir of a ``(batch, salt)`` segment's ``kind`` rows: ``d`` doc
    rows, ``t`` tombstones."""
    return f"{index_dir}/doc_stats/batch={batch}/__t={kind}/salt={salt}"


def _files_key(d: str) -> tuple:
    try:
        names = sorted(n for n in os.listdir(d)
                       if n.endswith(".parquet") and n[0] not in "._")
    except FileNotFoundError:
        names = []
    out = [d]
    for n in names:
        p = os.path.join(d, n)
        st = os.stat(p)
        out.append((p, st.st_mtime_ns, st.st_size))
    return tuple(out)


def _read_map(key: tuple) -> np.ndarray:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d, files = key[0], [p for p, _, _ in key[1:]]
    if not files:
        raise FileNotFoundError(f"no doc map for segment {d}")
    t = pa.concat_tables(pq.ParquetFile(p).read(columns=["ord", "doc_id"])
                         for p in files)
    ords = t.column("ord").to_numpy()
    m = np.empty(ords.size, dtype=np.int64)
    if ords.size and (ords.min() != 0 or ords.max() != ords.size - 1):
        raise ValueError(f"segment {d}: ordinals are not 0..{ords.size - 1}")
    m[ords] = t.column("doc_id").to_numpy()
    return m


def _read_deleted(key: tuple) -> np.ndarray:
    import pyarrow.parquet as pq

    return np.concatenate([np.empty(0, np.int64)] + [
        pq.ParquetFile(p).read(columns=["doc_id"]).column("doc_id").to_numpy()
        for p, _, _ in key[1:]])


def _load(d: str, read) -> np.ndarray:
    """``read``'s array of the files in ``d``, read-only, from this
    process's cache when those files are unchanged."""
    key = _files_key(d)
    m = _cache.get(key)
    if m is not None:
        _cache.move_to_end(key)
        return m
    m = read(key)
    m.setflags(write=False)
    _cache[key] = m
    _cached["bytes"] += m.nbytes
    while _cached["bytes"] > _CACHE_BYTES and len(_cache) > 1:
        _, old = _cache.popitem(last=False)
        _cached["bytes"] -= old.nbytes
    return m


class DocMaps:
    """``maps[(batch, salt)]`` → that segment's ``ord → doc_id`` array;
    ``maps.deleted(salt)`` → the doc_ids that the batches ``tombstoned``
    deleted in shard ``salt``.  ``tombstoned`` is a reader snapshot's list
    of committed batches that hold tombstones, so a later commit never
    shows through it.  Holds only the index path and those batch ids, so it
    pickles into UDF closures; the arrays come from the worker-side
    cache."""

    def __init__(self, index_dir: str, tombstoned: tuple[int, ...] = ()):
        self.index_dir = index_dir
        self.tombstoned = tuple(tombstoned)

    def __getitem__(self, key: tuple[int, int]) -> np.ndarray:
        batch, salt = key
        return _load(segment_dir(self.index_dir, batch, salt), _read_map)

    def deleted(self, salt: int) -> np.ndarray:
        """The doc_ids tombstoned in shard ``salt``, int64, empty when none
        is (a batch may tombstone none in a salt)."""
        return np.concatenate([np.empty(0, np.int64)] + [
            _load(segment_dir(self.index_dir, b, salt, "t"), _read_deleted)
            for b in self.tombstoned])


def segment_maps(doc_maps, batch: np.ndarray,
                 salt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(flat, base): the maps of the distinct segments among ``(batch[i],
    salt[i])`` concatenated, and item i's offset into ``flat`` — ordinal o
    of item i's segment is doc_id ``flat[base[i] + o]``, so a decoder maps a
    whole batch of runs in one gather.  ``doc_maps`` is a :class:`DocMaps`
    or any mapping with its keys."""
    if batch.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    key = batch.astype(np.int64) * (int(salt.max()) + 1) + salt
    _, first, seg = np.unique(key, return_index=True, return_inverse=True)
    maps = [doc_maps[(int(batch[i]), int(salt[i]))] for i in first]
    sizes = np.array([m.size for m in maps], dtype=np.int64)
    flat = maps[0] if len(maps) == 1 else np.concatenate(maps)
    return flat, (np.cumsum(sizes) - sizes)[seg]


def ordinals_of(doc_maps, batch: int, salt: np.ndarray,
                doc_ids: np.ndarray) -> np.ndarray:
    """The inverse gather: each doc_id's ordinal in its segment ``(batch,
    salt[i])``, by binary search in the segment's sorted doc_ids.  Raises
    if a doc_id is not in its segment."""
    out = np.empty(doc_ids.size, dtype=np.int64)
    for s in np.unique(salt):
        at = salt == s
        m = doc_maps[(int(batch), int(s))]
        o = np.searchsorted(m, doc_ids[at])
        if o.size and (o.max() >= m.size or not np.array_equal(m[o], doc_ids[at])):
            raise ValueError(f"doc_ids missing from segment ({batch}, {s})")
        out[at] = o
    return out

"""The on-disk posting format: per-segment doc ordinals, the segment doc
maps that turn them back into doc_ids, and the format version and corpus
totals in _state."""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
from elasticsearch_data_import_handler_spark.plans import docmap
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader, build_incremental, build_index, commit_batch, compact_index,
    docs_versioned)
from elasticsearch_data_import_handler_spark.plans.state import (
    FORMAT_VERSION, IndexFormatError, read_state)
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages
from tests.oracle.bm25_join import bm25_topk


def _hits(rows):
    return {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 9))
            for r in rows}


def _expected(spark, pages):
    return _hits(bm25_topk(spark, docs_versioned(dedup_latest(pages)),
                           round_to=None).collect())


_STATE_V1 = {"last_indexed_batch": 0, "committed_batches": [0], "s_shards": 1,
             "n_buckets": 8, "build_id": "b0", "analyzer": {},
             "has_positions": False}


@pytest.mark.parametrize("old_state", [
    _STATE_V1,                           # 64-bit doc-id postings
    {**_STATE_V1, "format_version": 2},  # corpus totals outside the state
], ids=["unversioned", "format2"])
def test_old_format_state_is_refused(spark, tmp_path, old_state):
    """An index whose _state is in an older on-disk format is refused by
    every entry point — and a snapshot of one by restore — with an error
    that says to rebuild, rather than read wrongly (a format-2 state has no
    corpus totals and would score with n_docs = 0)."""
    from elasticsearch_data_import_handler_spark.plans.snapshot import restore_index

    d = str(tmp_path / "old")
    os.makedirs(f"{d}/_state")
    with open(f"{d}/_state/state.json", "w") as f:
        json.dump(old_state, f)
    repo = tmp_path / "repo"
    os.makedirs(repo / "snapshots")
    with open(repo / "snapshots" / "old.json", "w") as f:
        json.dump({"name": "old", "ts": 0, "state": old_state, "files": []}, f)
    pages = synth_pages(spark, 5, seed=1)
    for call in (lambda: read_state(d), lambda: IndexReader(spark, d),
                 lambda: compact_index(spark, d),
                 lambda: commit_batch(spark, pages, d, batch_id=1),
                 lambda: restore_index(str(repo), "old", str(tmp_path / "dst"))):
        with pytest.raises(IndexFormatError, match="rebuild"):
            call()


def test_build_writes_dense_ordinals_and_version(spark, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, synth_pages(spark, 300, seed=3), d, tau=100, n_buckets=4)
    st = read_state(d)
    assert st.format_version == FORMAT_VERSION and st.s_shards == 4
    for salt in range(st.s_shards):
        m = docmap.DocMaps(d)[(0, salt)]
        assert m.size and np.all(np.diff(m) > 0)  # ord order is doc_id order
    post = pq.read_table(f"{d}/postings", columns=["n_docs", "block_max_doc"])
    # block_max_doc is an ordinal, below the segment's doc count
    assert max(max(b) for b in post["block_max_doc"].to_pylist()) < 300


def _segment(d, salt, ids):
    sd = docmap.segment_dir(d, 0, salt)
    shutil.rmtree(sd, ignore_errors=True)
    os.makedirs(sd)
    ids = np.sort(np.asarray(ids, np.int64))
    pq.write_table(pa.table({"doc_id": ids, "ord": np.arange(ids.size, dtype=np.int32)}),
                   f"{sd}/part-{ids[0]}.parquet")


def test_doc_map_cache_follows_rewrites_and_cap(tmp_path, monkeypatch):
    """A rewritten segment is read anew (its files' path, mtime and size
    key the cache), an unchanged one is served from the cache, and the
    cache stays under its byte cap."""
    d = str(tmp_path)
    maps = docmap.DocMaps(d)
    _segment(d, 0, [30, 10, 20])
    first = maps[(0, 0)]
    assert first.tolist() == [10, 20, 30] and maps[(0, 0)] is first
    _segment(d, 0, [5, 6])           # same segment, rewritten
    assert maps[(0, 0)].tolist() == [5, 6]
    monkeypatch.setattr(docmap, "_CACHE_BYTES", 3 * 8 * 100)
    for salt in range(1, 8):
        _segment(d, salt, np.arange(100) + 1000 * salt)
        assert maps[(0, salt)][0] == 1000 * salt
    assert docmap._cached["bytes"] <= docmap._CACHE_BYTES
    assert sum(m.nbytes for m in docmap._cache.values()) == docmap._cached["bytes"]


def test_rebuild_new_session_and_compaction_never_serve_stale_maps(spark, tmp_path):
    """Ordinals are only meaningful with their segment's current map.  An
    index rebuilt at the same path has segments of the same (batch, salt)
    and the same directories as the one it replaced; read from a new
    session (the same Python workers, whose caches hold the old maps), and
    again after compact_index rewrites its segments, the WAND and TAAT
    paths return the current index's docs."""
    d = str(tmp_path / "idx")
    first = synth_pages(spark, 150, seed=42)
    build_index(spark, first, d, n_buckets=4)
    for _ in range(3):  # several Python workers read the first index's maps
        assert _hits(bm25_topk_wand(spark, IndexReader(spark, d)).collect()) \
            == _expected(spark, first)

    shutil.rmtree(d)
    b0 = synth_pages(spark, 160, seed=7, batches=2, batch=0)
    b1 = synth_pages(spark, 160, seed=7, batches=2, batch=1)
    build_incremental(spark, [b0, b1], d, n_buckets=4)
    want = _expected(spark, b0.unionByName(b1))
    fresh = spark.newSession()
    for _ in range(3):
        assert _hits(bm25_topk_wand(fresh, IndexReader(fresh, d)).collect()) == want
    compact_index(spark, d)
    assert read_state(d).committed_batches == [2]
    reader = IndexReader(fresh, d)
    assert _hits(bm25_topk_wand(fresh, reader).collect()) == want
    taat = {r["doc_id"] for r in reader.decoded_postings_for_terms(["spark"]).collect()}
    assert taat and taat <= {r["doc_id"] for r in reader.doc_stats().collect()}


def _positions_sliced(tid, did, pos, starts, end):
    """The positions encoder before it built one Arrow array per batch: the
    same gap-coded varbyte stream, sliced into one bytes object per row."""
    from elasticsearch_data_import_handler_spark.functions.varbyte import (
        varbyte_encode, varbyte_nbytes)

    seg = pos[:end].astype(np.uint64)
    deltas = seg.copy()
    deltas[1:] = seg[1:] - seg[:-1]
    deltas[starts] = seg[starts]
    buf = varbyte_encode(deltas)
    cum = np.concatenate(([0], np.cumsum(varbyte_nbytes(deltas))))
    ends = np.concatenate((starts[1:], [end]))
    bo, be = cum[starts], cum[ends]
    return {"term_id": tid[starts].tolist(), "doc_id": did[starts].tolist(),
            "n_pos": (ends - starts).tolist(),
            "pos_vb": [buf[bo[i]:be[i]] for i in range(starts.size)]}


def test_positions_encode_is_byte_identical_to_sliced_encoder():
    """encode_positions (one binary Arrow array from byte offsets) writes the
    bytes the per-row slicing encoder wrote: groups of one and many
    positions, gaps of one to three varbyte bytes, a trailing row left out
    by ``end`` (the carried group)."""
    from elasticsearch_data_import_handler_spark.plans.build import encode_positions

    rng = np.random.default_rng(3)
    sizes = rng.integers(1, 40, 500)
    n = int(sizes.sum())
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    tid = np.repeat(rng.integers(-2**62, 2**62, sizes.size), sizes)
    did = np.repeat(rng.integers(-2**62, 2**62, sizes.size), sizes)
    gaps = rng.choice([1, 5, 200, 40_000], n, p=[0.6, 0.3, 0.08, 0.02])
    pos = np.concatenate([np.cumsum(g) - g[0] for g in np.split(gaps, starts[1:])])
    for st, end in ((starts, n), (starts[:-1], int(starts[-1])), (starts[:1], n)):
        got = encode_positions(tid, did, pos, st, end).to_pydict()
        assert got == _positions_sliced(tid, did, pos, st, end)

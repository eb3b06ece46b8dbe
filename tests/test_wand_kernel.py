"""The multi-query block-max WAND kernel against an exhaustive evaluation.

Synthetic (query-bucket, salt) groups are fed straight to
``operators.wand._score_group`` as Arrow tables, no Spark involved, with the
segments' ord → doc_id maps passed as a dict.  The reference decodes every
block of every row, maps the ordinals through the same maps, sums each doc's
partials in the same (term, n_docs) row order and makes the same
tie-inclusive cut, so the pruned kernel must return exactly the same rows,
bit for bit.
"""

import numpy as np
import pyarrow as pa
import pytest

from elasticsearch_data_import_handler_spark.functions.varbyte import (
    bm25_partial, decode_posting_list, encode_posting_list)
from elasticsearch_data_import_handler_spark.operators.wand import (
    _copies, _score_group)

AVGDL = 23.5
SALT = 3
_ROW_TYPES = [("query_id", pa.int32()), ("k", pa.int32()), ("term", pa.string()),
              ("batch", pa.int32()), ("salt", pa.int32()),
              ("n_docs", pa.int32()), ("idf", pa.float64()),
              ("block_max_tf", pa.list_(pa.int32())),
              ("block_min_dl", pa.list_(pa.int32())),
              ("off_d", pa.list_(pa.int64())), ("off_t", pa.list_(pa.int64())),
              ("off_l", pa.list_(pa.int64())), ("doc_ids_vb", pa.binary()),
              ("tfs_vb", pa.binary()), ("dls_vb", pa.binary())]


def _doc_ids(batch, enc, maps) -> np.ndarray:
    return maps[(batch, SALT)][decode_posting_list(
        enc["doc_ids_vb"], enc["tfs_vb"], enc["dls_vb"])[0]]


def _group(rng):
    """A random group: (rows, doc maps, tombstone ids or None).

    The group's salt holds 1–3 batch segments of equally many docs, each
    with its own doc_ids and so its own ord → doc_id map.  A term has a row
    in 1–3 of the segments, some long enough for several 128-posting
    blocks; half the terms use the same ordinals, tfs and doc lengths in
    every segment, so their rows' streams are byte-identical across batches
    though they name different docs.  tf and doc length come from small
    ranges and some terms give every posting the same (tf, dl), so equal
    scores — and ties at the k-th — are common.  Queries list 1–4 terms,
    often one of them twice or three times."""
    n_batch, n_seg_docs = int(rng.integers(1, 4)), 1500
    ids = rng.choice(np.arange(-(1 << 62), 1 << 62, 1 << 40), replace=False,
                     size=n_batch * n_seg_docs)
    maps = {(b, SALT): np.sort(part)
            for b, part in enumerate(np.split(ids, n_batch))}

    def posting_list(flat):
        ords = rng.choice(n_seg_docs, size=int(rng.integers(1, 700)), replace=False)
        tf = np.full(ords.size, 2) if flat else rng.integers(1, 6, ords.size)
        dl = np.full(ords.size, 20) if flat else rng.integers(5, 60, ords.size)
        return ords, tf, dl

    segments = {}
    for ti in range(int(rng.integers(3, 8))):
        batches = rng.choice(n_batch, size=int(rng.integers(1, n_batch + 1)),
                             replace=False)
        flat = rng.random() < 0.3
        same = posting_list(flat) if rng.random() < 0.5 else None
        segments[f"t{ti}"] = (float(rng.uniform(0.2, 4.0)), [
            (int(b), encode_posting_list(*(same or posting_list(flat))))
            for b in batches])
    terms = sorted(segments)
    rows = []
    for qid in rng.choice(1000, size=int(rng.integers(1, 25)), replace=False):
        picked = list(rng.choice(terms, size=int(rng.integers(1, 5))))
        if rng.random() < 0.5:  # repeated (query_id, term) rows
            picked += [picked[int(rng.integers(len(picked)))]] * int(rng.integers(1, 3))
        k = int(rng.choice([1, 1, 2, 3, 10, 5000]))
        for term in picked:
            idf, segs = segments[term]
            rows += [(int(qid), k, term, b, idf, enc) for b, enc in segs]
    rows = [rows[i] for i in rng.permutation(len(rows))]  # shuffle order
    live_ids = np.concatenate([_doc_ids(b, e, maps) for _, segs in segments.values()
                               for b, e in segs])
    tomb = rng.choice(live_ids, size=int(rng.integers(0, live_ids.size // 5 + 1)),
                      replace=False) if rng.random() < 0.6 else None
    return rows, maps, tomb


def _table(rows) -> pa.Table:
    cols = {name: [] for name, _ in _ROW_TYPES}
    for qid, k, term, batch, idf, e in rows:
        vals = {"query_id": qid, "k": k, "term": term, "batch": batch,
                "salt": SALT, "idf": idf, **e}
        for name, _ in _ROW_TYPES:
            v = vals[name]
            cols[name].append(v.tolist() if isinstance(v, np.ndarray) else v)
    return pa.table({name: pa.array(cols[name], t) for name, t in _ROW_TYPES})


def _exhaustive(rows, maps, tomb) -> set:
    """No pruning: every posting of every row, summed per doc in (term,
    n_docs) row order by ``np.add.reduceat`` — whose float result differs
    from a plain left-to-right sum from 3 terms on, and which fixes the
    scores the scorer has always returned — tombstones dropped,
    tie-inclusive top-k."""
    out = set()
    by_q = {}
    for r in rows:
        by_q.setdefault(r[0], []).append(r)
    for qid, qrows in by_q.items():
        k = qrows[0][1]
        partials = {}
        for _, _, term, b, idf, e in sorted(qrows, key=lambda r: (r[2], r[5]["n_docs"])):
            ords, tf, dl = decode_posting_list(e["doc_ids_vb"], e["tfs_vb"], e["dls_vb"])
            d = maps[(b, SALT)][ords]
            for doc, p in zip(d.tolist(), bm25_partial(tf, dl, idf, AVGDL).tolist()):
                partials.setdefault(doc, []).append(p)
        dead = set() if tomb is None else set(tomb.tolist())
        ranked = sorted(((float(np.add.reduceat(ps, [0])[0]), doc)
                         for doc, ps in partials.items()
                         if doc not in dead), key=lambda x: (-x[0], x[1]))
        cut = ranked[k - 1][0] if len(ranked) > k else -np.inf
        out |= {(qid, doc, s, k) for s, doc in ranked if s >= cut}
    return out


def _kernel(rows, maps, tomb) -> set:
    deleted = np.empty(0, np.int64) if tomb is None else tomb.astype(np.int64)
    got = _score_group(_table(rows), deleted, AVGDL, maps).to_pylist()
    return {(r["query_id"], r["doc_id"], r["score"], r["k"]) for r in got}


@pytest.mark.parametrize("seed", range(60))
def test_pruned_kernel_equals_exhaustive(seed):
    rows, maps, tomb = _group(np.random.default_rng([seed, 7]))
    assert _kernel(rows, maps, tomb) == _exhaustive(rows, maps, tomb)


@pytest.mark.parametrize("seed", range(20))
def test_copies_count_query_repeats_not_identical_streams(seed):
    """m counts how often a query lists a term, whatever the streams: a
    term's rows in different batches are distinct segments even when their
    ordinal streams are byte-identical, so they keep m = 1 (an inflated m
    loosens the block bound)."""
    rng = np.random.default_rng([seed, 11])
    rows, _, _ = _group(rng)
    while not any(r[2] == o[2] and r[3] != o[3] and
                  r[5]["doc_ids_vb"] == o[5]["doc_ids_vb"]
                  for r in rows for o in rows):
        rows, _, _ = _group(rng)
    listed = {}
    for qid, _, term, b, _, _ in rows:
        listed[(qid, term, b)] = listed.get((qid, term, b), 0) + 1
    want = [listed[(qid, term, b)] for qid, _, term, b, _, _ in rows]
    assert _copies(_table(rows)).tolist() == want


def _repeated_non_seed_rows():
    """Query 5 lists 'a' once and 'b' twice, k = 1.  'a' is the strongest
    term and seeds θ from its first block (tf 5).  Doc 400000 sits in a
    later tf-1 'a' block and is 'b''s best doc: its 'a' bound plus one 'b'
    maximum stays under θ, but with 'b' counted twice it wins.  One
    segment, (0, SALT), holds every doc."""
    a_docs = np.arange(1, 401, dtype=np.int64) * 1000
    b_docs = np.r_[400_000, np.arange(1, 301, dtype=np.int64) * 7 + 10**6]
    maps = {(0, SALT): np.union1d(a_docs, b_docs)}
    ords = lambda d: np.searchsorted(maps[(0, SALT)], d)  # noqa: E731
    a = encode_posting_list(ords(a_docs), np.r_[np.full(128, 5), np.ones(272, int)],
                            np.full(400, 30))
    b = encode_posting_list(ords(b_docs), np.ones(301, int),
                            np.r_[10, np.full(300, 60)])
    return [(5, 1, "a", 0, 2.0, a), (5, 1, "b", 0, 1.0, b),
            (5, 1, "b", 0, 1.0, b)], maps


def test_repeated_non_seed_term_is_weighted():
    rows, maps = _repeated_non_seed_rows()
    want = _exhaustive(rows, maps, None)
    assert len(want) == 1 and next(iter(want))[1] == 400_000
    assert _kernel(rows, maps, None) == want


def test_empty_and_missing_inputs():
    empty = pa.schema(_ROW_TYPES).empty_table()
    assert _score_group(empty, np.empty(0, np.int64), AVGDL, {}).num_rows == 0
    rows, maps = _repeated_non_seed_rows()
    all_dead = np.concatenate([_doc_ids(b, e, maps) for *_, b, _, e in rows])
    assert all_dead.dtype == np.int64
    assert _score_group(_table(rows), all_dead, AVGDL, maps).num_rows == 0
    # no deleted ids, and deleted ids none of the group's docs carry
    none_hit = np.array([-1, 7, 1 << 50], np.int64)
    for deleted in (np.array([], np.int64), none_hit):
        assert _kernel(rows, maps, None) == {
            (r["query_id"], r["doc_id"], r["score"], r["k"])
            for r in _score_group(_table(rows), deleted, AVGDL, maps).to_pylist()}

"""The multi-query block-max WAND kernel against an exhaustive evaluation.

Synthetic (query-bucket, salt) groups are fed straight to
``operators.wand._score_group`` as Arrow tables, no Spark involved.  The
reference decodes every block of every row, sums each doc's partials in the
same (term, n_docs) row order and makes the same tie-inclusive cut, so the
pruned kernel must return exactly the same rows, bit for bit.
"""

import numpy as np
import pyarrow as pa
import pytest

from elasticsearch_data_import_handler_spark.functions.varbyte import (
    bm25_partial, decode_posting_list, encode_posting_list)
from elasticsearch_data_import_handler_spark.operators.wand import _score_group

AVGDL = 23.5
_ROW_TYPES = [("query_id", pa.int32()), ("k", pa.int32()), ("term", pa.string()),
              ("n_docs", pa.int32()), ("idf", pa.float64()),
              ("block_max_tf", pa.list_(pa.int32())),
              ("block_min_dl", pa.list_(pa.int32())),
              ("off_d", pa.list_(pa.int64())), ("off_t", pa.list_(pa.int64())),
              ("off_l", pa.list_(pa.int64())), ("doc_ids_vb", pa.binary()),
              ("tfs_vb", pa.binary()), ("dls_vb", pa.binary())]


def _doc_ids(enc) -> np.ndarray:
    return decode_posting_list(enc["doc_ids_vb"], enc["tfs_vb"], enc["dls_vb"])[0]


def _group(rng):
    """A random group: (rows, tombstone ids or None).

    Terms have 1–3 segments over disjoint doc sets (a doc version lives in
    one segment), some long enough for several 128-posting blocks.  tf and
    doc length come from small ranges and some terms give every posting the
    same (tf, dl), so equal scores — and ties at the k-th — are common.
    Queries list 1–4 terms, often one of them twice or three times."""
    universe = np.unique(rng.integers(-(1 << 62), 1 << 62, size=6000))
    segments = {}
    for ti in range(int(rng.integers(3, 8))):
        term = f"t{ti}"
        n_seg = int(rng.integers(1, 4))
        sizes = rng.integers(1, 700, size=n_seg)
        docs = rng.choice(universe, size=int(sizes.sum()), replace=False)
        flat = rng.random() < 0.3
        segs = []
        for part in np.split(docs, np.cumsum(sizes)[:-1]):
            tf = np.full(part.size, 2) if flat else rng.integers(1, 6, part.size)
            dl = np.full(part.size, 20) if flat else rng.integers(5, 60, part.size)
            segs.append(encode_posting_list(part, tf, dl))
        segments[term] = (float(rng.uniform(0.2, 4.0)), segs)
    terms = sorted(segments)
    rows = []
    for qid in rng.choice(1000, size=int(rng.integers(1, 25)), replace=False):
        picked = list(rng.choice(terms, size=int(rng.integers(1, 5))))
        if rng.random() < 0.5:  # repeated (query_id, term) rows
            picked += [picked[int(rng.integers(len(picked)))]] * int(rng.integers(1, 3))
        k = int(rng.choice([1, 1, 2, 3, 10, 5000]))
        for term in picked:
            idf, segs = segments[term]
            rows += [(int(qid), k, term, idf, enc) for enc in segs]
    rows = [rows[i] for i in rng.permutation(len(rows))]  # shuffle order
    live_ids = np.concatenate([_doc_ids(e) for _, segs in segments.values()
                               for e in segs])
    tomb = rng.choice(live_ids, size=int(rng.integers(0, live_ids.size // 5 + 1)),
                      replace=False) if rng.random() < 0.6 else None
    return rows, tomb


def _table(rows) -> pa.Table:
    cols = {name: [] for name, _ in _ROW_TYPES}
    for qid, k, term, idf, e in rows:
        vals = {"query_id": qid, "k": k, "term": term, "idf": idf, **e}
        for name, _ in _ROW_TYPES:
            v = vals[name]
            cols[name].append(v.tolist() if isinstance(v, np.ndarray) else v)
    return pa.table({name: pa.array(cols[name], t) for name, t in _ROW_TYPES})


def _exhaustive(rows, tomb) -> set:
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
        for _, _, term, idf, e in sorted(qrows, key=lambda r: (r[2], r[4]["n_docs"])):
            d, tf, dl = decode_posting_list(e["doc_ids_vb"], e["tfs_vb"], e["dls_vb"])
            for doc, p in zip(d.tolist(), bm25_partial(tf, dl, idf, AVGDL).tolist()):
                partials.setdefault(doc, []).append(p)
        dead = set() if tomb is None else set(tomb.tolist())
        ranked = sorted(((float(np.add.reduceat(ps, [0])[0]), doc)
                         for doc, ps in partials.items()
                         if doc not in dead), key=lambda x: (-x[0], x[1]))
        cut = ranked[k - 1][0] if len(ranked) > k else -np.inf
        out |= {(qid, doc, s, k) for s, doc in ranked if s >= cut}
    return out


def _kernel(rows, tomb) -> set:
    ts = None if tomb is None else pa.table({"__ts_doc_id": pa.array(tomb, pa.int64())})
    got = _score_group(_table(rows), ts, AVGDL).to_pylist()
    return {(r["query_id"], r["doc_id"], r["score"], r["k"]) for r in got}


@pytest.mark.parametrize("seed", range(60))
def test_pruned_kernel_equals_exhaustive(seed):
    rows, tomb = _group(np.random.default_rng([seed, 7]))
    assert _kernel(rows, tomb) == _exhaustive(rows, tomb)


def _repeated_non_seed_rows():
    """Query 5 lists 'a' once and 'b' twice, k = 1.  'a' is the strongest
    term and seeds θ from its first block (tf 5).  Doc 400000 sits in a
    later tf-1 'a' block and is 'b''s best doc: its 'a' bound plus one 'b'
    maximum stays under θ, but with 'b' counted twice it wins."""
    a_docs = np.arange(1, 401, dtype=np.int64) * 1000
    a = encode_posting_list(a_docs, np.r_[np.full(128, 5), np.ones(272, int)],
                            np.full(400, 30))
    b_docs = np.r_[400_000, np.arange(1, 301, dtype=np.int64) * 7 + 10**6]
    b = encode_posting_list(b_docs, np.ones(301, int), np.r_[10, np.full(300, 60)])
    return [(5, 1, "a", 2.0, a), (5, 1, "b", 1.0, b), (5, 1, "b", 1.0, b)]


def test_repeated_non_seed_term_is_weighted():
    rows = _repeated_non_seed_rows()
    want = _exhaustive(rows, None)
    assert len(want) == 1 and next(iter(want))[1] == 400_000
    assert _kernel(rows, None) == want


def test_empty_and_missing_inputs():
    empty = pa.schema(_ROW_TYPES).empty_table()
    assert _score_group(empty, None, AVGDL).num_rows == 0
    rows = _repeated_non_seed_rows()
    all_dead = pa.table({"__ts_doc_id": pa.array(
        np.concatenate([_doc_ids(e) for *_, e in rows]), pa.int64())})
    assert _score_group(_table(rows), all_dead, AVGDL).num_rows == 0
    ts_empty = pa.table({"__ts_doc_id": pa.array([], pa.int64())})
    assert _kernel(rows, None) == {
        (r["query_id"], r["doc_id"], r["score"], r["k"])
        for r in _score_group(_table(rows), ts_empty, AVGDL).to_pylist()}

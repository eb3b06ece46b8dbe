"""Property tests for the varbyte/delta codec (FIXTURES.md §5, SURVEY §5.2.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_data_import_handler_spark.functions.varbyte import (
    bm25_partial,
    decode_blocks,
    decode_posting_list,
    delta_decode,
    delta_encode,
    encode_posting_list,
    varbyte_decode,
    varbyte_encode,
)


@pytest.mark.parametrize("n", [0, 1, 127, 128, 129, 10_000])
def test_varbyte_roundtrip_lengths(n):
    rng = np.random.default_rng(42)
    v = rng.integers(0, 2**62, size=n, dtype=np.int64).astype(np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip_hypothesis(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


def test_varbyte_edge_values():
    v = np.array([0, 1, 127, 128, 16383, 16384, 2**63 - 1, 2**64 - 1], dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


def test_delta_roundtrip_monotone():
    rng = np.random.default_rng(42)
    for n in [0, 1, 127, 128, 129, 10_000]:
        v = np.sort(rng.choice(2**62, size=n, replace=False).astype(np.uint64)) if n else np.empty(0, np.uint64)
        assert np.array_equal(delta_decode(delta_encode(v)), v)


def test_posting_list_roundtrip_and_block_max():
    rng = np.random.default_rng(42)
    n = 1000
    doc_ids = rng.choice(2**63 - 1, size=n, replace=False).astype(np.int64) - 2**62
    tfs = rng.integers(1, 1000, n)
    dls = rng.integers(5, 2000, n)
    idf, avgdl = 1.7, 120.0
    enc = encode_posting_list(doc_ids, tfs, dls)
    n_blocks = (n + 127) // 128
    assert enc["n_docs"] == n
    assert len(enc["block_max_tf"]) == n_blocks
    d2, t2, l2 = decode_posting_list(enc["doc_ids_vb"], enc["tfs_vb"], enc["dls_vb"])
    order = np.argsort(doc_ids, kind="stable")
    assert np.array_equal(d2, doc_ids[order])
    assert np.array_equal(t2, tfs[order])
    assert np.array_equal(l2, dls[order])
    assert np.all(np.diff(d2) > 0)
    # (max_tf, min_dl) upper bound dominates every member score under ANY
    # (idf, avgdl) — the stats-independence property incremental relies on
    scores = bm25_partial(t2, l2, idf, avgdl)
    for bi in range(n_blocks):
        s, e = bi * 128, min((bi + 1) * 128, n)
        assert enc["block_max_doc"][bi] == int(d2[e - 1])
        assert enc["block_max_tf"][bi] == int(t2[s:e].max())
        assert enc["block_min_dl"][bi] == int(l2[s:e].min())
        ub = bm25_partial(np.array([enc["block_max_tf"][bi]]),
                          np.array([enc["block_min_dl"][bi]]), idf, avgdl)[0]
        assert ub >= scores[s:e].max() - 1e-12


def test_selective_block_decode():
    """decode_blocks on a subset must equal the matching slices of full decode."""
    rng = np.random.default_rng(7)
    for n in [1, 100, 128, 129, 1000, 5000]:
        doc_ids = np.sort(rng.choice(2**62, size=n, replace=False).astype(np.int64))
        tfs = rng.integers(1, 100, n)
        dls = rng.integers(5, 2000, n)
        enc = encode_posting_list(doc_ids, tfs, dls)
        d_all, t_all, l_all = decode_posting_list(
            enc["doc_ids_vb"], enc["tfs_vb"], enc["dls_vb"])
        n_blocks = len(enc["off_d"])
        pick = np.unique(rng.choice(n_blocks, size=max(1, n_blocks // 2), replace=False))
        d, t, l = decode_blocks(
            enc["doc_ids_vb"], enc["tfs_vb"], enc["dls_vb"],
            np.asarray(enc["off_d"]), np.asarray(enc["off_t"]),
            np.asarray(enc["off_l"]), n, pick,
        )
        exp = np.concatenate([np.arange(b * 128, min((b + 1) * 128, n)) for b in pick])
        assert np.array_equal(d, d_all[exp])
        assert np.array_equal(t, t_all[exp])
        assert np.array_equal(l, l_all[exp])


def test_salted_split_union_equals_original():
    """FIXTURES.md §5: salt-split union == unsalted list, for s ∈ {1,2,7}."""
    rng = np.random.default_rng(42)
    n = 777
    doc_ids = rng.choice(10**9, size=n, replace=False).astype(np.int64)
    tfs = rng.integers(1, 50, n)
    dls = rng.integers(5, 2000, n)
    for s in [1, 2, 7]:
        salt = np.mod(np.abs(doc_ids), s)
        parts = []
        for i in range(s):
            m = salt == i
            if m.sum() == 0:
                continue
            enc = encode_posting_list(doc_ids[m], tfs[m], dls[m])
            d2, t2, l2 = decode_posting_list(enc["doc_ids_vb"], enc["tfs_vb"], enc["dls_vb"])
            parts.append(np.stack([d2, t2, l2]))
        merged = np.concatenate(parts, axis=1)
        order = np.argsort(merged[0])
        merged = merged[:, order]
        base_order = np.argsort(doc_ids)
        assert np.array_equal(merged[0], doc_ids[base_order])
        assert np.array_equal(merged[1], tfs[base_order])
        assert np.array_equal(merged[2], dls[base_order])


@given(st.lists(st.integers(min_value=0, max_value=1 << 20), min_size=1,
                max_size=200, unique=True))
@settings(max_examples=200, deadline=None)
def test_position_list_roundtrip(vals):
    """The positional-postings codec path: sorted unique positions →
    delta+varbyte → decode → identical list (build_positions/_dec pair)."""
    import numpy as np

    from elasticsearch_data_import_handler_spark.functions.varbyte import (
        delta_decode, delta_encode, varbyte_decode, varbyte_encode)

    pos = np.array(sorted(vals), dtype=np.int64)
    vb = varbyte_encode(delta_encode(pos))
    back = delta_decode(varbyte_decode(vb)).astype(np.int64)
    assert back.tolist() == pos.tolist()


def test_encode_posting_batch_matches_per_group():
    """The round-6 batch encoder must be BYTE-identical to the per-group
    encode_posting_list over every field, for many group shapes: 1-posting
    groups, exact block multiples, >1 block, and a group spanning the
    127/128/129 block boundaries."""
    import numpy as np

    from elasticsearch_data_import_handler_spark.functions.varbyte import (
        encode_posting_batch, encode_posting_list)

    rng = np.random.default_rng(7)
    sizes = [1, 2, 127, 128, 129, 300, 5, 256, 1, 384]
    ds, ts, dls, gstarts = [], [], [], []
    pos = 0
    for sz in sizes:
        gstarts.append(pos)
        d = np.sort(rng.integers(-(1 << 62), 1 << 62, sz, dtype=np.int64))
        d = np.unique(d)  # strictly increasing like real doc_id streams
        sz = d.size
        ds.append(d)
        ts.append(rng.integers(1, 1000, sz, dtype=np.int64))
        dls.append(rng.integers(1, 3000, sz, dtype=np.int64))
        pos += sz
    d = np.concatenate(ds)
    t = np.concatenate(ts)
    dl = np.concatenate(dls)
    rows = encode_posting_batch(d, t, dl, np.array(gstarts, dtype=np.int64))
    assert len(rows) == len(sizes)
    for i, (gd, gt, gdl) in enumerate(zip(ds, ts, dls)):
        ref = encode_posting_list(gd, gt, gdl, assume_sorted=True)
        got = rows[i]
        assert got["n_docs"] == ref["n_docs"]
        for k in ("block_max_doc", "block_max_tf", "block_min_dl",
                  "off_d", "off_t", "off_l"):
            assert np.array_equal(np.asarray(got[k]), np.asarray(ref[k])), k
        for k in ("doc_ids_vb", "tfs_vb", "dls_vb"):
            assert bytes(got[k]) == bytes(ref[k]), k

"""Delta + varbyte posting-list codec with block-max metadata (numpy-vectorized).

The index format (SURVEY.md §1.2 / §2C C8): per ``(term, salt)`` group the
doc_ids are sorted ascending, delta-encoded, then varbyte (LEB128-style,
7 data bits per byte, high bit = continuation) compressed.  tf and doc_len
streams are varbyte'd without deltas.  Blocks of ``BLOCK_SIZE`` postings carry
``(max_doc, max_tf, max_score)`` so the query path can do block-max WAND
pruning (Ding & Suel, SIGIR'11 — public literature) without decoding.

Everything here is numpy-vectorized: these kernels run inside Arrow UDFs on
executors, so no per-row Python is allowed (BASELINE.json input_hint
mandate).  The decoders take many posting lists (or many blocks of them) per
call, read straight from the Arrow buffers of the binary columns.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varbyte_nbytes(values: np.ndarray) -> np.ndarray:
    """Byte length of each value's varbyte encoding (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    thresh = np.uint64(1 << 7)
    work = v.copy()
    for _ in range(9):
        more = work >= thresh
        if not more.any():
            break
        nbytes[more] += 1
        work = work >> np.uint64(7)
    return nbytes


def varbyte_encode(values: np.ndarray, nbytes: np.ndarray | None = None) -> bytes:
    """Vectorized varbyte encode of a non-negative int64/uint64 array.
    ``nbytes`` (optional) is the precomputed ``varbyte_nbytes(values)`` —
    callers that already need the widths for offset math pass them in so
    the shift loop runs once, not twice."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if nbytes is None:
        nbytes = varbyte_nbytes(v)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    # write byte j of every value that has > j bytes
    maxb = int(nbytes.max())
    for j in range(maxb):
        mask = nbytes > j
        idx = offsets[:-1][mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array.

    Byte-position passes (mirror of the encoder): pass j ORs the j-th byte
    of every value still wide enough — for the mostly-1-2-byte streams
    delta coding produces this is a couple of dense vector ops, where the
    former per-byte ``np.add.at`` scatter (round 6) paid an indirect write
    per BYTE of the stream and dominated every posting decode."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends_idx = np.nonzero((b & 0x80) == 0)[0]   # terminal byte per value
    n = ends_idx.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends_idx[:-1] + 1
    nb = ends_idx - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    data = (b & np.uint8(0x7F))
    maxb = int(nb.max())
    if maxb == 1:
        return data[starts].astype(np.uint64)
    m = np.ones(n, dtype=bool)
    for j in range(maxb):
        if j:
            m = nb > j
            vals[m] |= data[starts[m] + j].astype(np.uint64) << np.uint64(7 * j)
        else:
            vals = data[starts].astype(np.uint64)
    return vals


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """First value kept, then gaps.  Input must be strictly increasing."""
    v = np.asarray(sorted_vals, dtype=np.uint64)
    if v.size == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.uint64)
    return np.cumsum(d, dtype=np.uint64)


def _block_starts(n: int) -> np.ndarray:
    return np.arange(0, n, BLOCK_SIZE, dtype=np.int64)


def encode_posting_list(doc_ids: np.ndarray, tfs: np.ndarray, doc_lens: np.ndarray,
                        assume_sorted: bool = False):
    """Encode one (term, salt) posting list with block-independent blocks.

    doc_ids: int64 (signed, xxhash64-derived), sorted ascending here.
    The doc_id stream is delta-encoded **within** each 128-posting block,
    with the block's first value stored absolute (order-preserving
    signed→unsigned map), so any block can be decoded without its
    predecessors — the classic restart-point layout block-max WAND needs.

    Block metadata is **stats-independent**: (max_doc, max_tf, min_dl) per
    block.  The BM25 contribution is increasing in tf and decreasing in dl,
    so idf·f(max_tf, min_dl) computed with *current* idf/avgdl is a correct
    block upper bound even after incremental batches shift corpus stats —
    a baked-in max_score would go stale and make pruning unsound.

    Returns a dict with n_docs, per-block metadata arrays + byte offsets,
    and the three varbyte streams.  doc_len travels with the posting
    (dls_vb) so query-time scoring needs no doc_stats join — documented
    deviation from FIXTURES.md §4.
    """
    if assume_sorted:
        # the hot path: the build shuffle already sortWithinPartitions'd by
        # doc_id — a redundant argsort here is pure memory-bandwidth waste
        # (the contended resource on many-core hosts)
        d = np.ascontiguousarray(doc_ids, dtype=np.int64)
        t = np.ascontiguousarray(tfs, dtype=np.int64)
        dl = np.ascontiguousarray(doc_lens, dtype=np.int64)
    else:
        order = np.argsort(doc_ids, kind="stable")
        d = np.asarray(doc_ids, dtype=np.int64)[order]
        t = np.asarray(tfs, dtype=np.int64)[order]
        dl = np.asarray(doc_lens, dtype=np.int64)[order]
    n = d.size
    u = d.astype(np.uint64) ^ np.uint64(1 << 63)  # order-preserving signed→unsigned
    stream = delta_encode(u)
    starts = _block_starts(n)
    stream[starts] = u[starts]  # block-first values absolute → independent blocks
    tu = t.astype(np.uint64)
    dlu = dl.astype(np.uint64)
    # per-block byte offsets for each stream (prefix sums of value byte widths)
    offs = {}
    for name, vals in (("d", stream), ("t", tu), ("l", dlu)):
        nb = varbyte_nbytes(vals)
        cum = np.concatenate(([0], np.cumsum(nb)))
        offs[name] = cum[starts].astype(np.int64)
    ends = np.minimum(starts + BLOCK_SIZE, n)
    max_doc = d[ends - 1] if n else np.empty(0, np.int64)
    max_tf = np.maximum.reduceat(t, starts) if n else np.empty(0, np.int64)
    min_dl = np.minimum.reduceat(dl, starts) if n else np.empty(0, np.int64)
    return {
        "n_docs": int(n),
        "block_max_doc": max_doc.astype(np.int64),
        "block_max_tf": max_tf.astype(np.int32),
        "block_min_dl": min_dl.astype(np.int32),
        "off_d": offs["d"], "off_t": offs["t"], "off_l": offs["l"],
        "doc_ids_vb": varbyte_encode(stream),
        "tfs_vb": varbyte_encode(tu),
        "dls_vb": varbyte_encode(dlu),
    }


def encode_posting_batch(d: np.ndarray, t: np.ndarray, dl: np.ndarray,
                         gstarts: np.ndarray) -> list[dict]:
    """Encode MANY (term, salt) posting lists in ONE vectorized pass over
    the concatenated posting-level arrays (round 6: the per-group
    ``encode_posting_list`` loop was the encode stage's dominant cost —
    ~10^5 small-python-call groups per task at web-scale vocabularies).

    ``d``/``t``/``dl`` are the concatenated sorted doc_id/tf/doc_len
    streams; ``gstarts`` holds each group's start index (first element 0).
    Returns one dict per group shaped exactly like
    :func:`encode_posting_list`'s output and **byte-identical** to it:
    varbyte byte boundaries align per value, every group start is a block
    start (delta resets), so slicing the batch-level buffers at group
    offsets reproduces the per-group encodes bit-for-bit (test-enforced).
    """
    n = d.size
    gs = np.asarray(gstarts, dtype=np.int64)
    ge = np.concatenate((gs[1:], [n]))
    g_of = np.searchsorted(gs, np.arange(n), side="right") - 1
    off_in_g = np.arange(n) - gs[g_of]
    bs_idx = np.nonzero(off_in_g % BLOCK_SIZE == 0)[0]   # all block starts
    u = d.astype(np.uint64) ^ np.uint64(1 << 63)
    stream = u.copy()
    if n > 1:
        np.subtract(u[1:], u[:-1], out=stream[1:])
    stream[bs_idx] = u[bs_idx]   # block-first absolute → independent blocks
    tu = t.astype(np.uint64)
    dlu = dl.astype(np.uint64)
    bufs, cums = {}, {}
    for name, vals in (("d", stream), ("t", tu), ("l", dlu)):
        nb = varbyte_nbytes(vals)
        cums[name] = np.concatenate(([0], np.cumsum(nb)))
        bufs[name] = varbyte_encode(vals, nbytes=nb)
    # block metadata over the concatenated arrays (blocks never span groups:
    # consecutive block starts bound exactly one block, the last runs to n)
    g_of_bs = g_of[bs_idx]
    blk_end = np.minimum(bs_idx + BLOCK_SIZE, ge[g_of_bs])
    max_doc = d[blk_end - 1].astype(np.int64)
    max_tf = np.maximum.reduceat(t, bs_idx).astype(np.int32)
    min_dl = np.minimum.reduceat(dl, bs_idx).astype(np.int32)
    gb = np.searchsorted(bs_idx, gs)          # first block per group
    gb_end = np.concatenate((gb[1:], [bs_idx.size]))
    cd, ct, cl = cums["d"], cums["t"], cums["l"]
    bd, bt, bl = bufs["d"], bufs["t"], bufs["l"]
    out = []
    for gi in range(gs.size):
        s, e = gs[gi], ge[gi]
        b0, b1 = gb[gi], gb_end[gi]
        blocks = bs_idx[b0:b1]
        out.append({
            "n_docs": int(e - s),
            "block_max_doc": max_doc[b0:b1],
            "block_max_tf": max_tf[b0:b1],
            "block_min_dl": min_dl[b0:b1],
            "off_d": (cd[blocks] - cd[s]).astype(np.int64),
            "off_t": (ct[blocks] - ct[s]).astype(np.int64),
            "off_l": (cl[blocks] - cl[s]).astype(np.int64),
            "doc_ids_vb": bd[cd[s]:cd[e]],
            "tfs_vb": bt[ct[s]:ct[e]],
            "dls_vb": bl[cl[s]:cl[e]],
        })
    return out


def gather_ranges(buf: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """The byte ranges ``[starts[i], ends[i])`` of ``buf``, concatenated in
    one fancy-index gather (no per-range Python)."""
    lens = np.asarray(ends, dtype=np.int64) - starts
    shift = np.repeat(starts - (np.cumsum(lens) - lens), lens)
    return buf[np.arange(shift.size) + shift]


def decode_doc_runs(doc_ids_vb, run_lens=None) -> np.ndarray:
    """Doc ids of many *runs* decoded in one pass → int64.

    ``doc_ids_vb`` holds the doc-id bytes of consecutive runs; a run is one or
    more whole blocks of one posting list, starting at a block boundary, and
    holds ``run_lens[i]`` postings (None: one run).  Inside a run the delta
    chain restarts every ``BLOCK_SIZE`` values, at the block-first absolutes
    the encoder wrote."""
    stream = varbyte_decode(doc_ids_vb)
    n = stream.size
    lens = np.asarray([n] if run_lens is None else run_lens, dtype=np.int64)
    pos = np.arange(n) - np.repeat(np.cumsum(lens) - lens, lens)  # in its run
    resets = np.flatnonzero(pos % BLOCK_SIZE == 0)
    c = np.cumsum(stream, dtype=np.uint64)
    # value i of the block starting at s: c[i] - c[s] + stream[s]
    base = np.repeat(c[resets] - stream[resets], np.diff(resets, append=n))
    return ((c - base) ^ np.uint64(1 << 63)).astype(np.int64)


def decode_posting_runs(doc_ids_vb, tfs_vb, dls_vb, run_lens=None):
    """The three streams of many runs (see :func:`decode_doc_runs`) → (doc_ids
    int64, tfs int64, dls int64), concatenated in run order.  A block-max
    scorer gathers its kept blocks' byte ranges first (:func:`gather_ranges`);
    whole posting lists already lie back to back in an Arrow binary
    column."""
    return (decode_doc_runs(doc_ids_vb, run_lens),
            varbyte_decode(tfs_vb).astype(np.int64),
            varbyte_decode(dls_vb).astype(np.int64))


def decode_posting_list(doc_ids_vb: bytes, tfs_vb: bytes, dls_vb: bytes):
    """Full decode of one posting list → (doc_ids int64 asc, tfs, dls)."""
    return decode_posting_runs(doc_ids_vb, tfs_vb, dls_vb)


def arrow_binary(arr) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (offsets int64, data uint8) of a binary Arrow array: value i
    is ``data[offsets[i]:offsets[i + 1]]``."""
    import pyarrow as pa

    _, off_buf, data_buf = arr.buffers()
    if off_buf is None or len(arr) == 0:
        return np.zeros(1, np.int64), np.empty(0, np.uint8)
    width = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(off_buf, width)[arr.offset:arr.offset + len(arr) + 1]
    data = (np.frombuffer(data_buf, np.uint8) if data_buf is not None
            else np.empty(0, np.uint8))
    return offs.astype(np.int64), data


def arrow_list(arr) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (offsets, values) of a list<int> Arrow array: list i is
    ``values[offsets[i]:offsets[i + 1]]``."""
    return arr.offsets.to_numpy(), arr.values.to_numpy()


def bm25_partial(tfs: np.ndarray, doc_lens: np.ndarray, idf: float, avgdl: float,
                 k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """Vectorized per-posting BM25 contribution: idf * tf/(tf + k1*(1-b+b*dl/avgdl))."""
    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(doc_lens, dtype=np.float64)
    return idf * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))

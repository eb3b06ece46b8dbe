"""Block-max WAND top-k over the persisted index (C11/C12, the scale path).

Query plan (SURVEY.md §3.4):

  postings scan, partition-pruned by bucket(term) + term filter
    → broadcast-join the lexicon, pruned to the query terms (idf)
    → broadcast-join the query terms (query_id, k)
    → project to the kernel's columns, add __qbucket = pmod(xxhash64(query_id),
      round(√Q))
    → groupBy(__qbucket, salt).applyInArrow(_score_group, with the salt's
      deleted doc_ids)                           ← the only hash shuffle
    → toArrow() to the driver: the shard top-ks (≤ S·k rows per query plus
      ties, S·k·Q for a batch of Q queries — the rows one single-partition
      ranking task would hold), each carrying its k
    → coordinator merge in numpy (_merge_shard_topks): rank by score desc,
      doc_id asc within each query, keep rank ≤ k, and return the hits as
      a local relation in (query_id, rank) order — no second exchange and
      no ranking stage, like a search engine's coordinating node reducing
      its shards' top-k (query-then-fetch)

One-group requests (ranked, round(√Q) = 1, i.e. at most 2 queries, on an
index of one salt) are the whole plan above in one scorer group, so the
driver runs that group itself and no Spark job runs:

  qterms collect (the same bounded collect)
    → IndexReader.group_tables: pyarrow reads of the terms' postings/
      batch=K/bucket=J files and the lexicon generation's df; the deleted
      doc_ids of salt 0 from the same loader the Spark path uses
    → idf through java.lang.StrictMath.log, bit-identical to the lexicon's
    → _join_group: the plan's two inner joins, in numpy
    → _score_group (the same call the one Python task would make)
    → _merge_shard_topks (the same merge)

Because every term's postings are sharded by the same doc-hash (build.py),
the rows of one (query, salt) hold a *complete, disjoint document subspace*:
all query terms' postings for exactly the docs with pmod(xxhash64(doc_id), S)
== salt.  WAND therefore runs shard-locally with no posting replication, and
the global top-k is an exact merge of shard top-ks.  A (query-bucket, salt)
group holds about √Q queries' rows, so there are √Q·S scorer calls per batch
(one Python boundary crossing each, not one per query) and a group is bounded
by √Q × |query terms| × τ postings — constant in corpus size.  A single query
is one bucket.

Tombstones are read where the doc maps are: in the process that scores.
They are stored by the same doc-hash salt (``doc_stats/batch=K/__t=t/
salt=S``), so a group of salt S reads ``DocMaps.deleted(S)`` — its shard's
deleted doc_ids, from the snapshot's tombstone batches only, through the
file-stamped worker cache of plans/docmap.py.  Nothing crosses a shuffle
and nothing is collected on the driver; the UDF closure carries the index
path and the tombstone batch ids, never the ids themselves.

The scorer is the vectorized-exact block-max variant (after Ding & Suel's
BMW, SIGIR'11); :func:`_score_group` states the bound and why it is safe.
Postings name docs by per-segment ordinals; the kernel maps them to doc_ids
(plans/docmap.py) right after each decode, so tombstones, the tie-inclusive
cut and the merge all see doc_ids.

The request is built in O(1) driver→JVM round trips whatever the number of
terms or queries: the IN lists are SQL text (``functions.sqltext.col_isin``),
and so is the projection.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..functions.sqltext import col_isin
from ..functions.varbyte import (
    BLOCK_SIZE, arrow_binary, arrow_list, bm25_partial, decode_posting_runs,
    gather_ranges)
from ..plans.docmap import segment_maps

# what the scorer reads beside the group's salt; nothing else crosses the
# shuffle
_KERNEL_COLS = ("query_id", "k", "term", "batch", "n_docs", "idf", "block_max_tf",
                "block_min_dl", "off_d", "off_t", "off_l", "doc_ids_vb",
                "tfs_vb", "dls_vb")
_STREAMS = (("doc_ids_vb", "off_d"), ("tfs_vb", "off_t"), ("dls_vb", "off_l"))
_TOPK = pa.schema([("query_id", pa.int32()), ("doc_id", pa.int64()),
                   ("score", pa.float64()), ("k", pa.int32())])
# a StructType, not DDL text: parsing DDL costs driver→JVM round trips
_RANKED = T.StructType([T.StructField("query_id", T.IntegerType()),
                        T.StructField("rank", T.LongType(), nullable=False),
                        T.StructField("doc_id", T.LongType()),
                        T.StructField("score", T.DoubleType())])


def _starts(keys: np.ndarray) -> np.ndarray:
    """Start index of each run of equal values in ``keys``."""
    new = np.ones(keys.size, dtype=bool)
    new[1:] = keys[1:] != keys[:-1]
    return np.flatnonzero(new)


def _copies(table: pa.Table) -> np.ndarray:
    """m per row, in table order: how many rows its (query, term) has per
    distinct segment row — a query that lists a term twice holds each of
    the term's segment rows twice.  The copies of a row carry byte-identical
    doc streams of the same (batch, salt) segment; two segments' ordinal
    streams can be byte-identical too, so the segment is part of the key."""
    def codes(*cols):  # dense ids of the distinct tuples of cols
        key = np.zeros(n, dtype=np.int64)
        for c in cols:
            _, c = np.unique(c, return_inverse=True)
            _, key = np.unique(key * (c.max() + 1) + c, return_inverse=True)
        return key

    def col(c):
        return table.column(c).combine_chunks()

    n = table.num_rows
    qt = codes(col("query_id").to_numpy(),
               pc.rank(col("term"), tiebreaker="dense").to_numpy())
    seg = codes(col("batch").to_numpy(), col("salt").to_numpy(),
                pc.dictionary_encode(col("doc_ids_vb")).indices.to_numpy())
    distinct = np.unique(qt * n + seg) // n
    return (np.bincount(qt) / np.bincount(distinct))[qt]


def _score_group(table: pa.Table, deleted: np.ndarray,
                 avgdl: float, doc_maps) -> pa.Table:
    """Exact block-max WAND for every query of one (query-bucket, salt)
    group, in one numpy pass → (query_id, doc_id, score, k) tie-inclusive
    shard top-ks.  ``table`` rows are (query, term, segment) posting rows;
    ``deleted`` holds the shard's deleted doc_ids (int64, empty when none);
    ``doc_maps[(batch, salt)]`` is a segment's ord → doc_id array
    (plans/docmap.py), through which every decoded ordinal becomes a doc_id.

    For each query:

    * Rows are ordered by (term, n_docs), and each doc's partials are summed
      in that order (stable lexsort on (query, doc), then reduceat), so
      scores do not depend on how the shuffle ordered the group.
    * Block upper bounds ub(t, b) come from the stats-independent (max_tf,
      min_dl) metadata with current idf/avgdl, so they stay sound as
      incremental batches shift corpus statistics.  A doc sits in at most
      one segment row per term, so max(t) — the largest bound over t's
      segment rows — bounds its t partial.
    * θ is seeded from the best block of the strongest row: the k-th largest
      live partial in it.  Partials are non-negative (idf ≥ 0), so each of
      those k docs totals at least θ, and θ ≤ the k-th best total.
    * Block b of a row of term t is skipped when
          m_t·ub(t, b) + Σ_{t'≠t} m_t'·max(t') < θ,
      where m_t counts the copies of the query's t rows (a query that lists
      a term twice scores it twice; :func:`_copies`).  Copies are identical
      rows, so all m_t copies of b are skipped together, and any doc in b
      totals < θ.
      Scored partially through its other rows, it still stays below the k
      docs that reach θ, so the tie-inclusive cut never reaches it.
    * Only the seed term t* can lose blocks: for any other t the sum holds
      m_t*·max(t*) ≥ θ.  So every doc that reaches θ is scored in full.  A
      repeated seed term alone would be safe even unweighted, since it
      scales θ's docs and the skipped docs by the same m; a repeated
      non-seed term would not — unweighted, its m-fold share of a skipped
      seed block's docs goes uncounted.  With every m_t = 1 the rule is the
      plain BMW bound.

    Every row, block and posting of the group goes through single numpy
    calls: one bm25_partial over all block bounds, one varbyte pass over the
    seed blocks and one over every kept block of every query."""
    n = table.num_rows
    if n == 0:
        return _TOPK.empty_table()
    col = {}
    for c in _KERNEL_COLS + ("salt",):  # one Arrow array each, zero-copy for one chunk
        a = table.column(c)
        col[c] = a.chunk(0) if a.num_chunks == 1 else a.combine_chunks()
    # rows in (query, term, n_docs) order
    qids, q_of = np.unique(col["query_id"].to_numpy(), return_inverse=True)
    term_of = pc.rank(col["term"], tiebreaker="dense").to_numpy()
    order = np.lexsort((col["n_docs"].to_numpy(), term_of, q_of))
    q_of, term_of = q_of[order], term_of[order]
    n_docs = col["n_docs"].to_numpy().astype(np.int64)[order]
    idf = col["idf"].to_numpy()[order]
    # ordinal o of row r's segment is doc_id flat[row_base[r] + o]
    flat, row_base = segment_maps(doc_maps, col["batch"].to_numpy()[order],
                                  col["salt"].to_numpy()[order])
    n_q = qids.size
    q_start = _starts(q_of)
    k = col["k"].to_numpy().astype(np.int64)[order][q_start]
    qt_new = np.ones(n, dtype=bool)
    qt_new[1:] = (q_of[1:] != q_of[:-1]) | (term_of[1:] != term_of[:-1])
    qt_start = np.flatnonzero(qt_new)
    qt_of = np.cumsum(qt_new) - 1
    m = _copies(table)[order]

    # every block of every row, in row order (a posting row holds >= 1 block)
    tf_off, max_tf = arrow_list(col["block_max_tf"])
    dl_off, min_dl = arrow_list(col["block_min_dl"])
    nblk = np.diff(tf_off)[order]
    blk_row = np.repeat(np.arange(n), nblk)
    first = np.cumsum(nblk) - nblk
    last = first + nblk - 1
    j = np.arange(blk_row.size) - first[blk_row]

    def per_block(off, vals):
        return vals[off[:-1][order][blk_row] + j]

    ub = bm25_partial(per_block(tf_off, max_tf), per_block(dl_off, min_dl),
                      idf[blk_row], avgdl)
    row_max = np.maximum.reduceat(ub, first)
    w_max = m[qt_start] * np.maximum.reduceat(row_max, qt_start)
    total = np.add.reduceat(w_max, _starts(q_of[qt_start]))
    other = total[q_of] - w_max[qt_of]
    bound = m[blk_row] * ub + other[blk_row]

    # byte range of every block in each stream; the values per block
    def ranges(vb, off_col):
        boff, data = arrow_binary(col[vb])
        lo = boff[:-1][order][blk_row] + per_block(*arrow_list(col[off_col]))
        hi = np.append(lo[1:], 0)
        hi[last] = boff[1:][order]
        return data, lo, hi

    streams = [ranges(vb, off_col) for vb, off_col in _STREAMS]
    lens = np.full(blk_row.size, BLOCK_SIZE, dtype=np.int64)
    lens[last] = n_docs - BLOCK_SIZE * (nblk - 1)

    def score_blocks(sel):
        """(query, doc, partial) of every live posting of blocks ``sel``."""
        d, tf, dl = decode_posting_runs(
            *(gather_ranges(data, lo[sel], hi[sel]) for data, lo, hi in streams),
            lens[sel])
        d = flat[np.repeat(row_base[blk_row[sel]], lens[sel]) + d]
        rows = np.repeat(blk_row[sel], lens[sel])
        p = bm25_partial(tf, dl, idf[rows], avgdl)
        return q_of[rows], d, p

    def live(q, d, s):
        if not deleted.size:
            return q, d, s
        keep = ~np.isin(d, deleted)
        return q[keep], d[keep], s[keep]

    def kth(q):
        """Over entries sorted by query, then score descending: (index of
        each query's k-th entry, -1 when it has fewer; its entry count)."""
        lo = np.searchsorted(q, np.arange(n_q))
        hi = np.searchsorted(q, np.arange(n_q), side="right")
        at = lo + k - 1
        return np.where((k >= 1) & (at < hi), at, -1), hi - lo

    # θ per query: the k-th best live partial of its strongest row's best block
    q_max = np.maximum.reduceat(row_max, q_start)
    cand = np.flatnonzero(row_max == q_max[q_of])
    seed_row = np.zeros(n, dtype=bool)
    seed_row[cand[_starts(q_of[cand])]] = True
    cand = np.flatnonzero(seed_row[blk_row] & (ub == row_max[blk_row]))
    sq, _, sp = live(*score_blocks(cand[_starts(blk_row[cand])]))
    o = np.lexsort((-sp, sq))
    at, _ = kth(sq[o])
    theta = np.zeros(n_q)
    theta[at >= 0] = sp[o][at[at >= 0]]

    # every kept block of every query, summed per (query, doc)
    q, d, p = score_blocks(np.flatnonzero(bound >= theta[q_of][blk_row]))
    o = np.lexsort((d, q))
    q, d, p = q[o], d[o], p[o]
    new = np.ones(q.size, dtype=bool)
    new[1:] = (q[1:] != q[:-1]) | (d[1:] != d[:-1])
    st = np.flatnonzero(new)
    q, d, score = live(q[st], d[st], np.add.reduceat(p, st))
    # tie-inclusive cut: keep everything scoring >= the k-th score so
    # downstream re-ranking under a different doc-id order (e.g. the oracle
    # gate's native ids) still sees every tied candidate
    o = np.lexsort((-score, q))
    q, d, score = q[o], d[o], score[o]
    at, size = kth(q)
    cut = (at >= 0) & (size > k)
    cutoff = np.full(n_q, -np.inf)
    cutoff[cut] = score[at[cut]]
    keep = score >= cutoff[q]
    return pa.table([qids[q[keep]].astype(np.int32), d[keep], score[keep],
                     k[q[keep]].astype(np.int32)], schema=_TOPK)


def _merge_shard_topks(spark: SparkSession, shard_topk: pa.Table,
                       round_to: int | None) -> DataFrame:
    """The coordinator merge: shard top-ks (query_id, doc_id, score, k) →
    (query_id, rank, doc_id, score) as a local relation, ranked by score
    descending, then doc_id ascending, within each query, cut at rank <= k,
    in (query_id, rank) order — ``row_number() OVER (PARTITION BY query_id
    ORDER BY score DESC, doc_id)`` with ``rank <= k``, as one numpy pass."""
    q, d, score, k = (shard_topk.column(c).to_numpy() for c in _TOPK.names)
    o = np.lexsort((d, -score, q))
    q, d, score, k = q[o], d[o], score[o], k[o]
    start = _starts(q)
    rank = np.arange(1, q.size + 1) - np.repeat(start, np.diff(start, append=q.size))
    keep = rank <= k
    ranked = spark.createDataFrame(
        pa.table({"query_id": q[keep], "rank": rank[keep], "doc_id": d[keep],
                  "score": score[keep]}), schema=_RANKED)
    if round_to is None:
        return ranked
    # Spark's own HALF_UP round, folded into the local relation: no job
    return ranked.selectExpr("query_id", "rank", "doc_id",
                             f"round(score, {int(round_to)}) AS score")


def _request_rows(spark: SparkSession, qterms: DataFrame | None
                  ) -> tuple[DataFrame, pa.Table]:
    """(the request's query-term frame, its (query_id, term, k) rows as an
    Arrow table).  The one bounded collect of a request: |queries|×|terms|
    rows, which feed the pruned postings scan, the query-bucket count and
    the one-group path.  On a query_terms_df frame (a LocalRelation) it runs
    no Spark job."""
    from .scoring import query_terms_df

    if qterms is None:
        qterms = query_terms_df(spark)
    rows = qterms.select("query_id", "term", "k").collect()
    return qterms, pa.table({
        "query_id": pa.array([r[0] for r in rows], pa.int32()),
        "term": pa.array([r[1] for r in rows], pa.string()),
        "k": pa.array([r[2] for r in rows], pa.int32())})


def _query_buckets(qt: pa.Table) -> int:
    """The query-bucket count round(√Q) of a request."""
    return max(1, int(round(len(pc.unique(qt.column("query_id"))) ** 0.5)))


def _scorer_input(spark: SparkSession, reader, qterms: DataFrame,
                  qt: pa.Table, n_qb: int) -> DataFrame:
    """The scorer's input rows keyed by (__qbucket, salt) and projected to
    the kernel's columns; ``qt`` is the collected ``qterms``, ``n_qb`` its
    query-bucket count."""
    terms = sorted(set(qt.column("term").to_pylist()))
    post = reader.postings_for_terms(terms)
    lex = reader.lexicon().select("term", "idf").filter(col_isin("term", terms))
    # one SQL-text projection: the same select built from Column objects
    # costs ~100 more driver→JVM round trips, a visible share of the
    # single-query latency
    return (post.join(F.broadcast(lex), "term")
            .join(F.broadcast(qterms), "term")
            .selectExpr("cast(pmod(xxhash64(cast(query_id as bigint)), "
                        f"{n_qb}) as int) AS __qbucket", "salt",
                        *_KERNEL_COLS))


def _strict_idf(spark: SparkSession, df: np.ndarray, n_docs: int) -> np.ndarray:
    """idf per lexicon df, bit-identical to plans.build._idf_expr: the
    argument in Python doubles, with the Spark expression's operations in
    its order, then ``java.lang.StrictMath.log`` — the function Spark's
    ``log`` calls — once per term.  np.log and math.log differ from it in
    the last bits on some terms."""
    log = spark._jvm.java.lang.StrictMath.log
    return np.array([log(1.0 + ((n_docs - d) + 0.5) / (d + 0.5))
                     for d in df.tolist()], dtype=np.float64)


def _join_group(qt: pa.Table, post: pa.Table, lex_terms: pa.ChunkedArray,
                idf: np.ndarray) -> pa.Table:
    """The kernel input of one group, joined on the driver with the Spark
    plan's semantics: ``post`` rows inner-joined to the lexicon terms
    ``lex_terms`` (a term whose df fell to 0 after deletes has postings rows
    but no lexicon row, and is dropped) and then to the query rows ``qt``,
    one output row per query row (a query that lists a term twice carries
    each postings row twice); ``idf[i]`` is ``lex_terms[i]``'s idf."""
    def lex_index(terms):  # each term's lexicon row, -1 when it has none
        return pc.fill_null(pc.index_in(terms, lex_terms), -1).to_numpy()

    p_t, q_t = lex_index(post.column("term")), lex_index(qt.column("term"))
    p_ok, q_ok = np.flatnonzero(p_t >= 0), np.flatnonzero(q_t >= 0)
    p_t, q_t = p_t[p_ok], q_t[q_ok]
    # postings rows grouped by lexicon term; each query row takes its term's
    by_term = p_ok[np.argsort(p_t, kind="stable")]
    n_of = np.bincount(p_t, minlength=len(lex_terms))
    first = np.cumsum(n_of) - n_of
    reps = n_of[q_t]
    within = np.arange(reps.sum()) - np.repeat(np.cumsum(reps) - reps, reps)
    table = post.take(pa.array(by_term[np.repeat(first[q_t], reps) + within],
                               pa.int64()))
    for name, values in (
            ("query_id", np.repeat(qt.column("query_id").to_numpy()[q_ok], reps)),
            ("k", np.repeat(qt.column("k").to_numpy()[q_ok], reps)),
            ("idf", np.repeat(idf[q_t], reps))):
        table = table.append_column(name, pa.array(values))
    return table


def _local_group(spark: SparkSession, reader, qt: pa.Table) -> pa.Table:
    """The kernel input of the one scorer group of a one-group request,
    read (IndexReader.group_tables) and joined (:func:`_join_group`) on the
    driver."""
    post, lex = reader.group_tables(sorted(set(qt.column("term").to_pylist())))
    if post is None:
        return pa.table({})  # no postings row: the kernel scores none
    idf = _strict_idf(spark, lex.column("df").to_numpy(), reader.state.n_docs)
    return _join_group(qt, post, lex.column("term"), idf)


def bm25_topk_wand(spark: SparkSession, reader, qterms: DataFrame | None = None,
                   round_to: int | None = None,
                   candidates: bool = False) -> DataFrame:
    """Top-k via the persisted index.  ``reader`` is a plans.build.IndexReader.

    Returns (query_id, rank, doc_id, score) ordered by (query_id, rank) —
    identical to the join-based BM25 reference scorer in the tests.  The
    ranked result runs its Spark jobs when this function is called: the shard
    top-ks are collected and merged on the driver, and the returned frame is
    a local relation over the hits, so collecting it runs no job.  A ranked
    request that is one scorer group — at most 2 queries (round(√Q) = 1) on
    an index of one salt — runs no Spark job at all: the driver reads the
    group with pyarrow and makes the one ``_score_group`` call the Spark
    plan would make in its one Python task, then the same merge.  With
    ``candidates=True`` returns the unranked tie-inclusive candidate pool
    (query_id, doc_id, score, k), lazily, so callers can rank under their
    own doc-id order (used by the oracle gate, which ranks by native table
    ids).
    """
    qterms, qt = _request_rows(spark, qterms)
    n_qb = _query_buckets(qt)
    avgdl, doc_maps = reader.avgdl_value(), reader.doc_maps
    if not candidates and n_qb == 1 and reader.state.s_shards == 1:
        table = _local_group(spark, reader, qt)
        return _merge_shard_topks(spark, _score_group(
            table, doc_maps.deleted(0), avgdl, doc_maps), round_to)
    shard_topk = _scorer_input(spark, reader, qterms, qt, n_qb).groupBy(
        "__qbucket", "salt").applyInArrow(
        lambda key, t: _score_group(t, doc_maps.deleted(key[1].as_py()), avgdl,
                                    doc_maps),
        schema="query_id int, doc_id bigint, score double, k int")
    if candidates:
        return shard_topk
    return _merge_shard_topks(spark, shard_topk.toArrow(), round_to)

"""Block-max WAND top-k over the persisted index (C11/C12, the scale path).

Query plan (SURVEY.md §3.4):

  postings scan, partition-pruned by bucket(term) + term filter
    → broadcast-join the lexicon, pruned to the query terms (idf)
    → broadcast-join the query terms (query_id, k)
    → project to the kernel's columns, add __qbucket = pmod(xxhash64(query_id),
      round(√Q))
    → groupBy(__qbucket, salt) [cogrouped with the tombstone frame keyed the
      same way] .applyInArrow(_score_group)      ← the only hash shuffle
    → repartition(1): the shard top-ks (~S·k rows per query plus ties),
      each carrying its k, ranked by one window row_number and sorted by
      (query_id, rank) in that single partition — one exchange, no
      range-partition sample

Because every term's postings are sharded by the same doc-hash (build.py),
the rows of one (query, salt) hold a *complete, disjoint document subspace*:
all query terms' postings for exactly the docs with pmod(xxhash64(doc_id), S)
== salt.  WAND therefore runs shard-locally with no posting replication, and
the global top-k is an exact merge of shard top-ks.  A (query-bucket, salt)
group holds about √Q queries' rows, so there are √Q·S scorer calls per batch
(one Python boundary crossing each, not one per query) and a group is bounded
by √Q × |query terms| × τ postings — constant in corpus size.  A single query
is one bucket.

Tombstones reach the scorer *distributed*: the tombstone frame is keyed by
(query-bucket, salt) — its salt is the same doc-hash shard, crossed with the
√Q bucket ids — and cogrouped with the postings groups, so each scorer call
receives exactly its shard's deleted ids as an Arrow column.  Nothing is
collected on the driver (the round-1 design shipped a driver-side set in the
UDF closure; at web scale that set is unbounded).  Replicating each
tombstone per *query* instead of per bucket would shuffle |tombstones| ×
|queries| rows.

The scorer is the vectorized-exact block-max variant (after Ding & Suel's
BMW, SIGIR'11); :func:`_score_group` states the bound and why it is safe.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.varbyte import (
    BLOCK_SIZE, arrow_binary, arrow_list, bm25_partial, decode_posting_runs,
    gather_ranges)

# what the scorer reads; nothing else crosses the shuffle
_KERNEL_COLS = ("query_id", "k", "term", "n_docs", "idf", "block_max_tf",
                "block_min_dl", "off_d", "off_t", "off_l", "doc_ids_vb",
                "tfs_vb", "dls_vb")
_STREAMS = (("doc_ids_vb", "off_d"), ("tfs_vb", "off_t"), ("dls_vb", "off_l"))
_TOPK = pa.schema([("query_id", pa.int32()), ("doc_id", pa.int64()),
                   ("score", pa.float64()), ("k", pa.int32())])


def _starts(keys: np.ndarray) -> np.ndarray:
    """Start index of each run of equal values in ``keys``."""
    new = np.ones(keys.size, dtype=bool)
    new[1:] = keys[1:] != keys[:-1]
    return np.flatnonzero(new)


def _score_group(table: pa.Table, tombstones: pa.Table | None,
                 avgdl: float) -> pa.Table:
    """Exact block-max WAND for every query of one (query-bucket, salt)
    group, in one numpy pass → (query_id, doc_id, score, k) tie-inclusive
    shard top-ks.  ``table`` rows are (query, term, segment) posting rows;
    ``tombstones`` holds the shard's deleted ids (``__ts_doc_id``) or None.

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
      a term twice scores it twice).  Copies are identical rows, so all m_t
      copies of b are skipped together, and any doc in b totals < θ.
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
    for c in _KERNEL_COLS:  # one Arrow array each, zero-copy for one chunk
        a = table.column(c)
        col[c] = a.chunk(0) if a.num_chunks == 1 else a.combine_chunks()
    # rows in (query, term, n_docs) order
    qids, q_of = np.unique(col["query_id"].to_numpy(), return_inverse=True)
    term_of = pc.rank(col["term"], tiebreaker="dense").to_numpy()
    order = np.lexsort((col["n_docs"].to_numpy(), term_of, q_of))
    q_of, term_of = q_of[order], term_of[order]
    n_docs = col["n_docs"].to_numpy().astype(np.int64)[order]
    idf = col["idf"].to_numpy()[order]
    n_q = qids.size
    q_start = _starts(q_of)
    k = col["k"].to_numpy().astype(np.int64)[order][q_start]
    qt_new = np.ones(n, dtype=bool)
    qt_new[1:] = (q_of[1:] != q_of[:-1]) | (term_of[1:] != term_of[:-1])
    qt_start = np.flatnonzero(qt_new)
    qt_of = np.cumsum(qt_new) - 1
    # m: a (query, term)'s rows over its distinct segment rows; the copies
    # of a row carry byte-identical doc streams, so they share one code
    seg = pc.dictionary_encode(col["doc_ids_vb"]).indices.to_numpy()[order]
    distinct = np.unique(qt_of * n + seg) // n
    m = (np.diff(qt_start, append=n) / np.bincount(distinct))[qt_of]

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
    ts = (tombstones.column("__ts_doc_id").to_numpy()
          if tombstones is not None and tombstones.num_rows else None)

    def score_blocks(sel):
        """(query, doc, partial) of every live posting of blocks ``sel``."""
        d, tf, dl = decode_posting_runs(
            *(gather_ranges(data, lo[sel], hi[sel]) for data, lo, hi in streams),
            lens[sel])
        rows = np.repeat(blk_row[sel], lens[sel])
        p = bm25_partial(tf, dl, idf[rows], avgdl)
        return q_of[rows], d, p

    def live(q, d, s):
        if ts is None:
            return q, d, s
        keep = ~np.isin(d, ts)
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


def _scorer_input(spark: SparkSession, reader, qterms: DataFrame | None
                  ) -> tuple[DataFrame, int]:
    """(the scorer's input rows keyed by (__qbucket, salt) and projected to
    the kernel's columns, the query-bucket count round(√Q))."""
    from .scoring import query_terms_df

    if qterms is None:
        qterms = query_terms_df(spark)
    # one bounded collect (|queries|×|terms| rows, deduplicated by the sets
    # below) feeds both the pruned postings scan and the query-bucket count.
    # On a query_terms_df frame (a LocalRelation) it runs no Spark job.
    qt_rows = qterms.select("query_id", "term").collect()
    terms = sorted({r["term"] for r in qt_rows})
    n_queries = len({r["query_id"] for r in qt_rows})
    post = reader.postings_for_terms(terms)
    lex = reader.lexicon().select("term", "idf").filter(F.col("term").isin(terms))
    n_qb = max(1, int(round(n_queries ** 0.5)))
    # one SQL-text projection: the same select built from Column objects
    # costs ~100 more driver→JVM round trips, a visible share of the
    # single-query latency
    scored = (post.join(F.broadcast(lex), "term")
              .join(F.broadcast(qterms), "term")
              .selectExpr("cast(pmod(xxhash64(cast(query_id as bigint)), "
                          f"{n_qb}) as int) AS __qbucket", "salt", *_KERNEL_COLS))
    return scored, n_qb


def bm25_topk_wand(spark: SparkSession, reader, qterms: DataFrame | None = None,
                   round_to: int | None = None,
                   candidates: bool = False) -> DataFrame:
    """Top-k via the persisted index.  ``reader`` is a plans.build.IndexReader.

    Returns (query_id, rank, doc_id, score) ordered by (query_id, rank) —
    identical to operators.scoring.bm25_topk (test-enforced).  With
    ``candidates=True`` returns the unranked tie-inclusive candidate pool
    (query_id, doc_id, score, k) so callers can rank under their own doc-id
    order (used by the oracle gate, which ranks by native table ids).
    """
    scored, n_qb = _scorer_input(spark, reader, qterms)
    avgdl = reader.avgdl_value()
    schema = "query_id int, doc_id bigint, score double, k int"
    tomb = reader.tombstones_df()
    if tomb is None:
        shard_topk = scored.groupBy("__qbucket", "salt").applyInArrow(
            lambda t: _score_group(t, None, avgdl), schema=schema)
    else:
        # each tombstone travels once per query bucket (√Q times), keyed by
        # its doc-hash salt.  Fresh aliases guard against the Spark 4.1
        # shared-lineage cogroup pruning bug (see operators/asof.py).
        buckets = spark.range(n_qb).select(
            F.col("id").cast("int").alias("__ts_qbucket"))
        tomb_keyed = (
            tomb.select(
                F.col("doc_id").alias("__ts_doc_id"),
                F.pmod(F.xxhash64("doc_id"), F.lit(reader.state.s_shards))
                .cast("int").alias("__ts_salt"))
            .crossJoin(F.broadcast(buckets))
        )
        shard_topk = (
            scored.groupBy("__qbucket", "salt")
            .cogroup(tomb_keyed.groupBy("__ts_qbucket", "__ts_salt"))
            .applyInArrow(lambda t, ts: _score_group(t, ts, avgdl),
                          schema=schema)
        )
    if candidates:
        return shard_topk
    # the shard top-ks are ~S·k rows per query (plus ties): one partition
    # satisfies both the window's clustering and the final sort, so neither
    # shuffles again
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    out = (
        shard_topk.repartition(1)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.orderBy("query_id", "rank")

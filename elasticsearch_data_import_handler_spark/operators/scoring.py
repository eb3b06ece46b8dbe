"""BM25 scoring + top-k (C11/C12) — the join-based scorer.

This is the fully-declarative scoring path: broadcast the (tiny) query-term
table, join it to term_freqs on term, bring in doc_len and corpus stats, sum
BM25 contributions per (query_id, doc_id), rank with a fixed total order
(score DESC, doc_id ASC — C12's rank-determinism contract).

At scale: the query-term side is O(queries × terms) rows → always broadcast;
term_freqs→lexicon join is also broadcast (lexicon pruned to query terms
first).  The only real shuffle is the per-(query_id, doc_id) aggregation,
whose cardinality is bounded by Σ df(query terms).  The block-max WAND path
(operators/wand.py) replaces even that with partition-local heaps over the
compressed index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .indexing import bm25_score_expr


def query_terms_df(spark, rows=None) -> DataFrame:
    """(query_id, term, k) — the broadcast side of the score join.

    Built from a pyarrow Table, so the frame is a ``LocalRelation``: the
    query stays on the driver, collecting it runs no Spark job, and no Python
    RDD (with its Python worker tasks) backs any scan of it."""
    import pyarrow as pa

    from ..queryset import query_term_rows

    rows = list(rows if rows is not None else query_term_rows())
    qids, terms, ks = zip(*rows) if rows else ((), (), ())
    return spark.createDataFrame(pa.table({
        "query_id": pa.array(qids, pa.int32()),
        "term": pa.array(terms, pa.string()),
        "k": pa.array(ks, pa.int32()),
    }))


def score_bm25_join(qterms: DataFrame, tfreqs: DataFrame, lex: DataFrame,
                    dstats: DataFrame, cstats: DataFrame) -> DataFrame:
    """→ (query_id, doc_id, score).  All joins on the query side broadcast."""
    q_lex = F.broadcast(qterms.join(lex, "term"))  # tiny: |query terms| rows
    matched = tfreqs.join(q_lex, "term")
    with_dl = matched.join(dstats.select("doc_id", "doc_len"), "doc_id")
    with_stats = with_dl.crossJoin(F.broadcast(cstats.select("avgdl")))
    return (
        with_stats.withColumn("contrib", bm25_score_expr())
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"), F.first("k").alias("k"))
    )


def topk(scored: DataFrame, k: int | None = None) -> DataFrame:
    """C12: rank-identical top-k. Total order: score DESC, doc_id ASC.

    Rank is computed on full float64 precision; presentation rounding (if
    any) happens after ranking so ties can't be manufactured by rounding.
    """
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    if k is not None:
        ranked = ranked.filter(F.col("rank") <= k)
    elif "k" in scored.columns:
        ranked = ranked.filter(F.col("rank") <= F.col("k"))
    return ranked.select("query_id", "rank", "doc_id", "score")


def bm25_topk(spark, docs: DataFrame, qterms: DataFrame | None = None,
              round_to: int | None = 4) -> DataFrame:
    """End-to-end join-based BM25 top-k over a docs frame (M1 flagship).

    Returns (query_id, rank, doc_id, score) ordered by (query_id, rank).
    """
    from .indexing import corpus_stats, doc_stats, lexicon, term_freqs

    if qterms is None:
        qterms = query_terms_df(spark)
    dstats = doc_stats(docs)
    tfreqs = term_freqs(docs)
    cstats = corpus_stats(dstats)
    lex = lexicon(tfreqs, cstats)
    scored = score_bm25_join(qterms, tfreqs, lex, dstats, cstats)
    out = topk(scored)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.orderBy("query_id", "rank")


def search_after(scored: DataFrame, cursor: DataFrame, k_col: str = "k",
                 score_col: str = "score", id_col: str = "doc_id") -> DataFrame:
    """ES ``search_after`` keyset pagination: given per-query cursors — the
    SORT VALUES of the last hit of the previous page, exactly what ES hands
    back — return the next page under the fixed total order
    (score DESC, id ASC) via the keyset predicate
    ``score < cs OR (score = cs AND id > cid)``.

    This is the deep-pagination shape that scales: no global
    offset-and-discard (ES ``from+size`` degrades as O(from + size) heap per
    shard and is capped at 10k), just a predicate that every shard applies
    during collection, so page N costs the same as page 1.  The cursor frame
    (query_id, cs, cid) is one row per query → broadcast.

    ``scored`` carries (query_id, doc_id, score, k).  Pagination keys use
    the caller's score column as-is — pass the PRESENTATION-rounded score
    (the value a client actually receives from the API) for engine-portable
    equality classes."""
    filtered = (scored.join(F.broadcast(cursor), "query_id")
                .filter((F.col(score_col) < F.col("cs"))
                        | ((F.col(score_col) == F.col("cs"))
                           & (F.col(id_col) > F.col("cid")))))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc(id_col))
    return (filtered.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= F.col(k_col))
            .select("query_id", "rank", id_col, score_col))


def rescore_windows(hits: DataFrame, secondary: DataFrame,
                    query_weight: float = 1.0,
                    rescore_query_weight: float = 0.5,
                    score_col: str = "score", id_col: str = "doc_id",
                    round_to: int = 4) -> DataFrame:
    """ES ``rescore`` over a QUERY BATCH: re-rank each query's
    already-bounded top window with a (more expensive) secondary query,
    combining scores as ``query_weight·primary +
    rescore_query_weight·secondary`` (score_mode=total), windows
    partitioned by query_id.  The single-query two-frame composition lives
    in operators/search.py:rescore_topk; this is its batched sibling for
    the WAND msearch path.  The canonical ES use: BM25 primary +
    match_phrase secondary so proximity only has to be evaluated on the
    window, never the corpus.

    ``hits`` is the already-bounded window (query_id, rank, doc_id, score) —
    ≤ window_size rows per query; ``secondary`` is (doc_id, sec_score).  The
    join is window-sized per query and the re-rank window is over ≤
    window_size rows — O(|window|) regardless of corpus size."""
    sec = secondary.select(F.col(id_col),
                           F.col("sec_score").cast("double"))
    combined = (hits.join(sec, id_col, "left")
                .withColumn("new_score", F.round(
                    F.col(score_col) * float(query_weight)
                    + F.coalesce(F.col("sec_score"), F.lit(0.0))
                    * float(rescore_query_weight), round_to)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("new_score"), F.asc(id_col))
    return (combined.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("query_id", "rank", id_col,
                    F.col("new_score").alias(score_col)))

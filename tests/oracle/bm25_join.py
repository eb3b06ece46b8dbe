"""Join-based BM25 top-k: the declarative Spark reference scorer that the
WAND tests compare the compressed-index path (operators/wand.py) against.

It re-tokenizes a raw docs frame and scores it fully declaratively:
broadcast the (tiny) query-term table, join it to term_freqs on term, bring
in doc_len and corpus stats, sum BM25 contributions per (query_id, doc_id),
rank with a fixed total order (score DESC, doc_id ASC — C12's
rank-determinism contract).  ``test_bm25_rank_identity`` checks it against
the pure-Python oracle in ``bm25.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from elasticsearch_data_import_handler_spark.functions.textanalysis import (
    jvm_tokens_col)
from elasticsearch_data_import_handler_spark.operators.indexing import (
    bm25_score_expr, corpus_stats, doc_stats, lexicon, term_freqs)
from elasticsearch_data_import_handler_spark.operators.scoring import (
    query_terms_df)


def docs_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → docs(doc_id, url, tokens, doc_len).

    doc_id = xxhash64(url) — stable across incremental runs (the analog of the
    reference's ES ``_id = idField`` identity, SURVEY.md §2A A9).
    """
    return pages.select(
        F.xxhash64("url").alias("doc_id"),
        "url",
        jvm_tokens_col("text").alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))


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
    """Join-based BM25 top-k over a raw docs frame.

    Returns (query_id, rank, doc_id, score) ordered by (query_id, rank).
    """
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

"""ES document-level read APIs over the persisted index: ``_termvectors``,
``_mget``, ``_explain``, and ``_msearch`` — the per-document inspection
surface a reference user kept using against Elasticsearch after the import
finished.  [ref upstream: the importer delegated every read API to ES —
SURVEY §2A A8 convention.]

Scale notes: ES serves ``_termvectors`` in "realtime" mode by re-analyzing
the document's ``_source`` rather than walking the inverted index — a
doc-keyed fetch against a term-keyed structure would scan every posting.
The Spark-first translation is the same: tokenize the requested docs from
the corpus frame (pruned to the requested ids BEFORE tokenization — one
pushed-down id filter, a few rows), and join the vocabulary-level stats
(df, ttf, idf) from the index's lexicon, which IS term-keyed.  Nothing here
ever scans postings by doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def term_vectors(reader, documents: DataFrame, doc_ids: list[int],
                 id_col: str = "doc_id", text_col: str = "text",
                 analyzer: dict | None = None) -> DataFrame:
    """ES ``_termvectors`` (realtime mode): for each requested doc, one row
    per term — (doc_id, term, term_freq, positions, df, idf) where df/idf
    are corpus-wide stats from the index lexicon, the ES
    ``term_statistics: true`` response shape (ttf is not persisted in this
    engine's lexicon, so idf — what scoring actually consumes — stands in
    for the corpus-level statistic).

    ``documents`` is the corpus frame (the ``_source`` role); the id
    filter is pushed into its scan, so the tokenize touches only the
    requested rows.  df/idf come from the persisted lexicon — the
    vocabulary join is broadcast-sized for any bounded request."""
    from ..functions.textanalysis import jvm_tokens_col

    if not doc_ids:
        raise ValueError("term_vectors needs at least one doc id")
    picked = (documents.filter(F.col(id_col).isin([int(i) for i in doc_ids]))
              .select(F.col(id_col).cast("long").alias("doc_id"),
                      F.col(text_col).alias("__tv_text"))
              .select("doc_id",
                      jvm_tokens_col("__tv_text", analyzer).alias("__toks")))
    pos = (picked.select(
        "doc_id", F.posexplode("__toks").alias("pos", "term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("term_freq"),
             F.sort_array(F.collect_list(F.col("pos").cast("long")))
             .alias("positions")))
    lex = reader.lexicon().select(
        "term", F.col("df").cast("long").alias("df"), "idf")
    # left join: a term in THIS doc version may be absent from the
    # committed lexicon generation (ES returns stats only for indexed
    # terms; df/idf are null for the rest)
    return (pos.join(lex, "term", "left")
            .select("doc_id", "term", "term_freq", "positions", "df", "idf"))


def mget(reader, doc_ids: list[int]) -> DataFrame:
    """ES ``_mget``: fetch the stored per-document fields (url, warc_ts,
    doc_len — the doc-values/_source role of doc_stats) for a bounded id
    list, tombstone-aware (deleted docs are absent, as ES reports
    ``found: false`` by omission here).  One pushed-down id filter."""
    if not doc_ids:
        raise ValueError("mget needs at least one doc id")
    return reader.live(reader.doc_stats().filter(
        F.col("doc_id").isin([int(i) for i in doc_ids])))


def explain_score(spark: SparkSession, reader, doc_id: int,
                  terms: list[str], round_to: int = 6) -> DataFrame:
    """ES ``_explain``: the BM25 breakdown for ONE (doc, query) pair — one
    row per query term with (term, tf, df, idf, dl, avgdl, contribution)
    plus the summed total, mirroring ES's explanation tree flattened.

    Plan: the postings scan is bucket-pruned by the query terms exactly
    like scoring, then filtered to the one doc — O(Σ df of query terms)
    read, a 1×|terms| result."""
    ts = sorted(set(terms))
    if not ts:
        raise ValueError("explain_score needs at least one term")
    rows = (reader.term_contribs(ts)
            .filter(F.col("doc_id") == int(doc_id))
            .withColumn("contribution", F.round("contrib", round_to))
            .select("term", F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    F.round("idf", round_to).alias("idf"),
                    F.col("doc_len").cast("long").alias("dl"),
                    F.round("avgdl", round_to).alias("avgdl"),
                    "contribution"))
    total = (rows.agg(F.round(F.sum("contribution"), round_to)
                      .alias("contribution"))
             .select(F.lit("__total__").alias("term"),
                     F.lit(None).cast("long").alias("tf"),
                     F.lit(None).cast("long").alias("df"),
                     F.lit(None).cast("double").alias("idf"),
                     F.lit(None).cast("long").alias("dl"),
                     F.lit(None).cast("double").alias("avgdl"),
                     "contribution"))
    return rows.unionByName(total)


def msearch(spark: SparkSession, reader, queries: dict[str, list[str]],
            k: int = 10, round_to: int | None = 4) -> DataFrame:
    """ES ``_msearch``: a batch of independent term queries answered in ONE
    pass — (query_key, rank, doc_id, score).  Delegates to the block-max
    WAND batch scorer (query-bucket balanced, single cogrouped shuffle),
    which is exactly what makes a search backend's msearch cheaper than N
    round-trips."""
    from .wand import bm25_topk_wand

    if not queries:
        raise ValueError("msearch needs at least one query")
    keys = sorted(queries)
    rows = [(i, t, int(k)) for i, key in enumerate(keys)
            for t in sorted(set(queries[key]))]
    qterms = spark.createDataFrame(rows, "query_id int, term string, k int")
    hits = bm25_topk_wand(spark, reader, qterms=qterms, round_to=round_to)
    names = spark.createDataFrame(
        [(i, key) for i, key in enumerate(keys)],
        "query_id int, query_key string")
    return (hits.join(F.broadcast(names), "query_id")
            .select("query_key", "rank", "doc_id", "score"))

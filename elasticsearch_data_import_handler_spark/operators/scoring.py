"""Request-side helpers of the BM25 top-k path: the query-term frame a
request starts from, ``search_after`` keyset pagination and batched
``rescore`` over already-ranked windows.  The scorer itself is the
block-max WAND path (operators/wand.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def query_terms_df(spark, rows=None) -> DataFrame:
    """(query_id, term, k) — a request's query terms.

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

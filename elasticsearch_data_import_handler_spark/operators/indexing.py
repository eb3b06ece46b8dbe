"""Index construction operators C4–C7, C10 (SURVEY.md §2C) — pure DataFrame.

Everything in this module is JVM-side (whole-stage codegen, no Python
boundary): tokenization uses ``regexp_extract_all``, doc identity uses
``xxhash64``, term frequencies come from explode + partial/final hash
aggregation — which *is* the SPIMI in-partition combine, done by Catalyst
(map-side partial agg per partition, shuffle by (term, doc_id), final agg).

Scale notes (100 TB / 10^12 docs):
- ``term_freqs`` is the big shuffle; it is keyed on (term, doc_id), which is
  near-uniform even for stopword terms because doc_id spreads each term's
  rows across all partitions.  The *skewed* key appears only when grouping
  by term alone (df, posting build) — handled by salting (C7).
- ``lexicon`` output is ~|vocab| rows (millions) — broadcastable at query
  time after a frequency cut, or partition-pruned by term.
- avgdl / n_docs are two scalars: computed with a single global agg and
  crossJoin'd back (Catalyst turns a 1-row crossJoin into a broadcast
  nested loop — free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import BM25_B, BM25_K1
from ..functions.textanalysis import jvm_tokens_col


def docs_from_documents(documents: DataFrame) -> DataFrame:
    """Driver ``documents`` table → docs frame, reusing the native doc_id."""
    return documents.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        jvm_tokens_col("text").alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))


def term_freqs(docs: DataFrame) -> DataFrame:
    """(doc) → (term, doc_id, tf).  Catalyst partial+final hash agg = SPIMI
    in-partition combine (C5)."""
    return (
        docs.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, doc_len) — C4 output; persisted as the doc_stats table."""
    cols = ["doc_id", "doc_len"] + (["url"] if "url" in docs.columns else [])
    return docs.select(*cols)


def corpus_stats(dstats: DataFrame) -> DataFrame:
    """Single row: n_docs, sum_dl, avgdl (C6)."""
    return dstats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_len").alias("sum_dl"),
        F.avg("doc_len").alias("avgdl"),
    )


def lexicon(tfreqs: DataFrame, cstats: DataFrame) -> DataFrame:
    """(term, df, idf) with idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (C10).

    ``tfreqs`` has one row per (term, doc_id) so df = count per term — no
    countDistinct shuffle needed.
    """
    df_tbl = tfreqs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return df_tbl.crossJoin(F.broadcast(cstats.select("n_docs"))).select(
        "term",
        "df",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
    )


def salt_plan(lex: DataFrame, tau: int) -> DataFrame:
    """C7: terms with df > τ get ⌈df/τ⌉ salts so no posting-build group
    exceeds τ rows.  Returns (term, n_salts); terms absent ⇒ n_salts = 1.

    This is a data-layout decision AQE cannot make for us: a single stopword
    group at 10^12 docs is ~10^11 postings — it must be split *before* the
    ``groupBy(term).applyInPandas`` encode, not after.
    """
    return (
        lex.filter(F.col("df") > tau)
        .select("term", F.ceil(F.col("df") / F.lit(tau)).cast("int").alias("n_salts"))
    )


def bm25_score_expr(tf_col: str = "tf", dl_col: str = "doc_len",
                    idf_col: str = "idf", avgdl_col: str = "avgdl"):
    """The BM25 per-(term,doc) contribution as a Catalyst expression —
    identical arithmetic shape to the numpy kernel and both oracles."""
    tf = F.col(tf_col).cast("double")
    dl = F.col(dl_col).cast("double")
    return F.col(idf_col) * tf / (
        tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / F.col(avgdl_col))
    )

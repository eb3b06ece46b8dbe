"""M1 golden rank-identity: join-based BM25 top-k vs pure-Python oracle.

SURVEY.md §5.2 item 2: top-k doc_ids rank-exact, scores |Δ| ≤ 1e-6, for the
whole reference query set, on both the driver `documents` corpus and the
synthetic `pages` corpus (post-dedup).
"""

import pytest

from elasticsearch_data_import_handler_spark.operators.indexing import (
    docs_from_documents)
from elasticsearch_data_import_handler_spark.queryset import QUERIES
from tests.oracle.bm25 import BM25Oracle
from tests.oracle.bm25_join import bm25_topk, docs_from_pages


def _assert_rank_identical(spark_rows, oracle_rows):
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in spark_rows}
    exp = {(qid, rank): (doc_id, score) for qid, rank, doc_id, score in oracle_rows}
    assert set(got) == set(exp), (
        f"rank-set mismatch: extra={set(got)-set(exp)} missing={set(exp)-set(got)}"
    )
    for key in exp:
        gd, gs = got[key]
        ed, es = exp[key]
        assert gd == ed, f"{key}: doc {gd} != {ed}"
        assert abs(gs - es) <= 1e-6, f"{key}: score {gs} != {es}"


def test_rank_identity_documents(spark, documents):
    docs_pd = documents.select("doc_id", "text").toPandas()
    oracle = BM25Oracle(list(docs_pd.itertuples(index=False, name=None)))
    golden = oracle.run_queries(QUERIES)

    out = bm25_topk(spark, docs_from_documents(documents), round_to=None).collect()
    _assert_rank_identical(out, golden)


def test_rank_identity_synth_pages(spark):
    from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    pages = synth_pages(spark, 400, seed=42)
    deduped = dedup_latest(pages)
    docs = docs_from_pages(deduped)

    pd_docs = docs.select("doc_id", "url").toPandas()
    texts = {r["url"]: r["text"] for r in deduped.select("url", "text").collect()}
    oracle = BM25Oracle(
        [(int(row.doc_id), texts[row.url]) for row in pd_docs.itertuples(index=False)]
    )
    golden = oracle.run_queries(QUERIES)

    out = bm25_topk(spark, docs, round_to=None).collect()
    _assert_rank_identical(out, golden)


def test_no_hit_query_returns_empty(spark, documents):
    out = bm25_topk(spark, docs_from_documents(documents), round_to=None)
    assert out.filter("query_id = 9").count() == 0


def test_k_edge_cases(spark, documents):
    out = bm25_topk(spark, docs_from_documents(documents), round_to=None)
    assert out.filter("query_id = 10").count() == 1  # k=1
    assert out.filter("query_id = 11").count() == 100  # k=100 (corpus has ≥100 hits)


def test_entry_bm25_topk_matches_join_scorer(spark, sf_dir, documents):
    """The suite's bm25_topk entry, served from the gate index by WAND,
    returns the join scorer's rows in (query_id, rank) order with the same
    dtypes.  Documents whose scores agree within 1e-6 may trade ranks: the
    two engines sum a document's term scores in different orders."""
    import __spark_entry__ as m

    got = m.q_bm25_topk(spark, sf_dir)
    exp = bm25_topk(spark, docs_from_documents(documents), round_to=4)
    assert got.dtypes == exp.dtypes
    g, e = got.toPandas(), exp.toPandas()
    assert g[["query_id", "rank"]].equals(e[["query_id", "rank"]])
    assert not g.duplicated(["query_id", "doc_id"]).any()
    score = {(q, d): s for q, d, s in zip(e["query_id"], e["doc_id"], e["score"])}
    for q, d, s_got, s_exp in zip(g["query_id"], g["doc_id"], g["score"],
                                  e["score"]):
        assert abs(s_got - s_exp) <= 1e-6, (q, d)
        assert (q, d) in score and abs(score[(q, d)] - s_got) <= 1e-6, (q, d)

"""ES document-level read APIs (_termvectors / _mget / _explain /
_msearch) and the extended pipeline aggs — semantics pinned against
driver-side recomputation on a small built index."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.docapi import (
    explain_score,
    mget,
    msearch,
    term_vectors,
)
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_index,
    docs_versioned,
)
from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


@pytest.fixture(scope="module")
def api_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("apiidx"))
    pages = synth_pages(spark, 200, seed=11)
    build_index(spark, pages, d, tau=100, n_buckets=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def corpus_docs(spark):
    """(doc_id, text) in the exact tokenized form the index was built on."""
    docs = docs_versioned(dedup_latest(synth_pages(spark, 200, seed=11)))
    return docs.select("doc_id", F.concat_ws(" ", "tokens").alias("text"))


def test_term_vectors_tf_positions_and_df(spark, api_index, corpus_docs):
    reader = IndexReader(spark, api_index)
    ids = [r["doc_id"] for r in corpus_docs.limit(2).collect()]
    out = term_vectors(reader, corpus_docs, ids).collect()
    assert {r["doc_id"] for r in out} == set(ids)
    toks = {r["doc_id"]: r["text"].split() for r in
            corpus_docs.filter(F.col("doc_id").isin(ids)).collect()}
    lex_df = {r["term"]: r["df"] for r in reader.lexicon().collect()}
    for r in out:
        tl = toks[r["doc_id"]]
        assert r["term_freq"] == tl.count(r["term"])
        assert list(r["positions"]) == [i for i, t in enumerate(tl)
                                        if t == r["term"]]
        if r["term"] in lex_df:
            assert r["df"] == lex_df[r["term"]]
    # every token of the doc appears exactly once per distinct term
    for d in ids:
        assert {r["term"] for r in out if r["doc_id"] == d} == set(toks[d])


def test_mget_bounded_fetch(spark, api_index):
    reader = IndexReader(spark, api_index)
    some = [r["doc_id"] for r in reader.doc_stats().limit(3).collect()]
    rows = mget(reader, some).collect()
    assert {r["doc_id"] for r in rows} == set(some)
    assert {"url", "warc_ts", "doc_len"} <= set(rows[0].asDict())
    with pytest.raises(ValueError):
        mget(reader, [])


def test_explain_matches_bool_query_total(spark, api_index):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)

    reader = IndexReader(spark, api_index)
    hit = bool_query(spark, reader, must=["spark"],
                     should=["sql"]).orderBy(F.desc("score")).first()
    ex = explain_score(spark, reader, hit["doc_id"], ["spark", "sql"])
    rows = {r["term"]: r for r in ex.collect()}
    total = rows.pop("__total__")
    assert total["contribution"] == pytest.approx(hit["score"], abs=1e-4)
    # per-term rows carry the full BM25 operand set
    for r in rows.values():
        assert r["tf"] >= 1 and r["df"] >= 1 and r["dl"] >= 1
        assert r["idf"] > 0 and r["avgdl"] > 0


def test_msearch_matches_singleton_queries(spark, api_index):
    from elasticsearch_data_import_handler_spark.operators.wand import (
        bm25_topk_wand)
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)

    reader = IndexReader(spark, api_index)
    out = msearch(spark, reader, {"qa": ["spark", "sql"], "qb": ["merge"]},
                  k=5)
    got = {(r["query_key"], r["rank"]): (r["doc_id"], r["score"])
           for r in out.collect()}
    # singleton runs through the same scorer must agree leg-by-leg
    for key, terms in {"qa": ["spark", "sql"], "qb": ["merge"]}.items():
        solo = bm25_topk_wand(
            spark, reader,
            qterms=query_terms_df(spark, [(0, t, 5) for t in terms]),
            round_to=4)
        for r in solo.collect():
            assert got[(key, r["rank"])] == (r["doc_id"], r["score"])

"""The one-group WAND path: a ranked request of at most two queries on an
index of one salt is one (query-bucket, salt) scorer group, and the driver
scores it itself (operators/wand.py:_local_group).  Its ranked rows must
equal the Spark path's own ranking, ``_merge_shard_topks`` over the
``candidates=True`` shard top-ks, in exact floats, order and schema."""

import shutil

import numpy as np
import pandas as pd
import pytest

from elasticsearch_data_import_handler_spark.operators import wand
from elasticsearch_data_import_handler_spark.operators.scoring import query_terms_df
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader, build_incremental, build_index, compact_index, delete_by_query)
from elasticsearch_data_import_handler_spark.sources.corpus import (
    PAGES_SCHEMA, synth_pages_pdf)

# two docs with the same text tie on every query of their terms; the third
# holds the only occurrences of "zzqgone", which the deletes remove
_EXTRA = [("https://extra.example/twin-a", "zzqtie zzqtie marker"),
          ("https://extra.example/twin-b", "zzqtie zzqtie marker"),
          ("https://extra.example/gone", "zzqgone zzqtie spark")]


def _pages(spark, part=None):
    pdf = synth_pages_pdf(160, seed=7)
    ts = pd.Timestamp("2026-03-01")
    extra = pd.DataFrame([(u, ts, t.encode(), t, "en") for u, t in _EXTRA],
                         columns=pdf.columns)
    pdf = pd.concat([pdf, extra], ignore_index=True)
    if part is not None:
        pdf = pdf[np.arange(len(pdf)) % 2 == part]
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA)


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """{state: index dir}, each of one salt (the default τ)."""
    root = tmp_path_factory.mktemp("onegroup")
    clean, two = str(root / "clean"), str(root / "two")
    build_index(spark, _pages(spark), clean, n_buckets=4)
    build_incremental(spark, [_pages(spark, 0), _pages(spark, 1)], two,
                      n_buckets=4)
    deleted, compacted = str(root / "deleted"), str(root / "compacted")
    shutil.copytree(two, deleted)
    assert delete_by_query(spark, deleted, must=["zzqgone"])["n_tombstones"] == 1
    assert delete_by_query(spark, deleted, must=["t0000"])["n_tombstones"] > 0
    shutil.copytree(deleted, compacted)
    compact_index(spark, compacted)
    out = {"clean": clean, "two_batches": two, "deleted": deleted,
           "compacted": compacted}
    for d in out.values():
        assert IndexReader(spark, d).state.s_shards == 1
    yield out
    shutil.rmtree(str(root), ignore_errors=True)


REQUESTS = {
    "two_terms": [(0, "spark", 10), (0, "join", 10)],
    "repeated_term": [(3, "spark", 10), (3, "spark", 10), (3, "merge", 10)],
    "tied_top_k1": [(0, "zzqtie", 1)],
    "deleted_term": [(0, "zzqgone", 3), (0, "marker", 3)],
    "no_hit": [(0, "zzqnohit", 5)],
    "no_hit_and_hit": [(0, "zzqnohit", 5), (0, "data", 5)],
    "empty": [],
    "two_queries": [(0, "spark", 5), (7, "the", 100), (7, "zzqtie", 100)],
    "deleted_and_stopword": [(1, "t0000", 20), (1, "a", 20)],
}


def _spark_ranked(spark, reader, rows, round_to):
    cands = wand.bm25_topk_wand(spark, reader, qterms=query_terms_df(spark, rows),
                                candidates=True)
    return wand._merge_shard_topks(spark, cands.toArrow(), round_to)


@pytest.mark.parametrize("round_to", [None, 4])
@pytest.mark.parametrize("state", ["clean", "two_batches", "deleted", "compacted"])
def test_one_group_equals_spark_path(spark, indexes, monkeypatch, state, round_to):
    calls = []
    local = wand._local_group
    monkeypatch.setattr(wand, "_local_group",
                        lambda *a: calls.append(1) or local(*a))
    reader = IndexReader(spark, indexes[state])
    hits = 0
    for name, rows in REQUESTS.items():
        got = wand.bm25_topk_wand(spark, reader, qterms=query_terms_df(spark, rows),
                                  round_to=round_to)
        want = _spark_ranked(spark, reader, rows, round_to)
        assert got.schema == want.schema, name
        g = got.collect()
        assert g == want.collect(), name
        hits += len(g)
        if name == "tied_top_k1":
            assert len(g) == 1  # two docs tie at the top: the cut keeps one
    assert len(calls) == len(REQUESTS) and hits > 0


def test_tie_and_deleted_term_cases_hold(spark, indexes):
    """The tie and the df-0 term cases above are what their names say."""
    reader = IndexReader(spark, indexes["deleted"])
    cands = wand.bm25_topk_wand(
        spark, reader, qterms=query_terms_df(spark, REQUESTS["tied_top_k1"]),
        candidates=True).collect()
    scores = sorted((r.score for r in cands), reverse=True)
    assert len(scores) >= 2 and scores[0] == scores[1]
    lex = {r.term for r in reader.lexicon().collect()}
    assert "zzqgone" not in lex and "zzqtie" in lex
    post, _ = reader.group_tables(["zzqgone"])
    # postings rows outlive df
    assert post.num_rows >= 1 and reader.doc_maps.deleted(0).size > 0
    # the lexicon inner join drops them before the kernel; results alone
    # cannot show it, since every doc of a df-0 term is tombstoned
    qt = wand._request_rows(spark, query_terms_df(spark, REQUESTS["deleted_term"]))[1]
    table = wand._local_group(spark, reader, qt)
    assert set(table.column("term").to_pylist()) == {"marker"}


@pytest.mark.parametrize("state", ["clean", "deleted"])
def test_strict_idf_equals_lexicon_idf_bit_for_bit(spark, indexes, state):
    reader = IndexReader(spark, indexes[state])
    lex = reader.lexicon().collect()
    want = np.array([r.idf for r in lex])
    got = wand._strict_idf(spark, np.array([r.df for r in lex]),
                           reader.state.n_docs)
    assert len(lex) > 2000
    assert np.array_equal(got.view(np.int64), want.view(np.int64))


def test_multi_group_and_candidates_keep_the_spark_plan(spark, indexes,
                                                        monkeypatch):
    """Three queries (round(√3) = 2 buckets) and candidates=True never take
    the one-group path."""
    def fail(*_):
        raise AssertionError("one-group path taken")
    monkeypatch.setattr(wand, "_local_group", fail)
    reader = IndexReader(spark, indexes["clean"])
    rows = [(q, "spark", 5) for q in range(3)]
    assert wand.bm25_topk_wand(spark, reader,
                               qterms=query_terms_df(spark, rows)).collect()
    assert wand.bm25_topk_wand(spark, reader,
                               qterms=query_terms_df(spark, rows[:1]),
                               candidates=True).collect()

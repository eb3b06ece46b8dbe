"""delete_by_query: tombstone-commit semantics — after a delete, every
statistic (df, n_docs, avgdl) and every query result must equal an index
built WITHOUT the victims, and compaction must physically reclaim them."""

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
from elasticsearch_data_import_handler_spark.operators.docapi import explain_score
from elasticsearch_data_import_handler_spark.operators.scoring import (
    bm25_topk,
    query_terms_df,
)
from elasticsearch_data_import_handler_spark.operators.search import multi_match
from elasticsearch_data_import_handler_spark.operators.textsearch import (
    bool_query,
    boosting_query,
    dis_max_query,
    terms_set_query,
)
from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_index,
    compact_index,
    delete_by_query,
    docs_versioned,
)
from elasticsearch_data_import_handler_spark.plans.state import read_lineage, read_state
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


@pytest.fixture(scope="module")
def deleted_and_clean(spark, tmp_path_factory):
    """One index deleted-by-query, one built from the surviving pages."""
    del_dir = str(tmp_path_factory.mktemp("dbq"))
    clean_dir = str(tmp_path_factory.mktemp("dbq_clean"))
    pages = synth_pages(spark, 300, seed=42)
    build_index(spark, pages, del_dir, tau=100, n_buckets=4)

    reader = IndexReader(spark, del_dir)
    victims = {r["doc_id"] for r in
               bool_query(spark, reader, must=[["merge", "batch"]]).collect()}
    assert victims
    res = delete_by_query(spark, del_dir, must=[["merge", "batch"]])
    assert res["n_tombstones"] == len(victims)

    # the reference index: never contained the victims at all.  Keep the
    # SAME shard/stats layout by building from the same pages minus victims
    keep_urls = (docs_versioned(dedup_latest(pages))
                 .filter(~F.col("doc_id").isin(list(victims)))
                 .select("url"))
    build_index(spark, pages.join(keep_urls, "url"), clean_dir,
                tau=100, n_buckets=4)
    yield del_dir, clean_dir, victims
    shutil.rmtree(del_dir, ignore_errors=True)
    shutil.rmtree(clean_dir, ignore_errors=True)


def _topk(spark, d):
    return {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 6))
            for r in bm25_topk_wand(spark, IndexReader(spark, d)).collect()}


def test_delete_matches_clean_rebuild(spark, deleted_and_clean):
    del_dir, clean_dir, victims = deleted_and_clean
    got = _topk(spark, del_dir)
    want = _topk(spark, clean_dir)
    assert got == want  # ranks AND scores: df/n_docs/avgdl all corrected
    assert not any(doc in victims for doc, _ in got.values())


def _explain_live_doc(spark, reader, clean_dir):
    doc = min(r["doc_id"] for r in bool_query(
        spark, IndexReader(spark, clean_dir), must=["spark"]).collect())
    return explain_score(spark, reader, doc, ["spark", "sql", "query", "index"])


SCORERS = {
    "bool_must_not": lambda spark, r, _: bool_query(
        spark, r, should=["spark", "index"], must_not=["sql"], min_should=1),
    "dis_max": lambda spark, r, _: dis_max_query(
        spark, r, [["spark", "sql"], ["merge"], "index"], tie_breaker=0.3),
    "terms_set": lambda spark, r, _: terms_set_query(
        spark, r, ["spark", "sql", "query", "data"], required=2),
    "boosting": lambda spark, r, _: boosting_query(
        spark, r, ["spark", "index"], ["sql"], negative_boost=0.5),
    "cross_fields": lambda spark, r, _: multi_match(
        spark, {"body": r}, ["spark", "query", "index"],
        boosts={"body": 2.0}, match_type="cross_fields"),
    "explain": _explain_live_doc,
}


def _rows(df):
    """{non-float columns: float columns} — floats compared within 1e-6."""
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = tuple((k, v) for k, v in d.items() if not isinstance(v, float))
        out[key] = [v for v in d.values() if isinstance(v, float)]
    return out


@pytest.mark.parametrize("scorer", sorted(SCORERS))
def test_scorer_matches_clean_rebuild(spark, deleted_and_clean, scorer):
    """Every TAAT scorer over the deleted index returns the clean rebuild's
    rows: tombstoned docs dropped, df/n_docs/avgdl corrected."""
    del_dir, clean_dir, _ = deleted_and_clean
    reader = IndexReader(spark, del_dir)
    assert reader.tombstones_df() is not None
    got = _rows(SCORERS[scorer](spark, reader, clean_dir))
    want = _rows(SCORERS[scorer](spark, IndexReader(spark, clean_dir),
                                 clean_dir))
    assert want and got.keys() == want.keys()
    for k, vals in want.items():
        assert got[k] == pytest.approx(vals, abs=1e-6), k


# one mixed batch: no query term in the lexicon; a k=1 query whose top score
# is tied (t0126's two best live docs score equally, shown by the k=2 twin);
# one term repeated in a query's rows
EDGE_ROWS = [(0, "zzzunknown", 10), (0, "qqqmissing", 10),
             (1, "t0126", 1), (3, "t0126", 2),
             (2, "spark", 5), (2, "spark", 5), (2, "sql", 5)]


@pytest.mark.parametrize("which", ["deleted", "clean"])
def test_wand_k_edge_cases_match_join_scorer(spark, deleted_and_clean, which):
    """The k that each shard scorer carries ranks a mixed batch exactly as
    the join scorer does, through the tombstone cogroup and without it."""
    del_dir, clean_dir, victims = deleted_and_clean
    reader = IndexReader(spark, del_dir if which == "deleted" else clean_dir)
    qt = query_terms_df(spark, EDGE_ROWS)
    live = (docs_versioned(dedup_latest(synth_pages(spark, 300, seed=42)))
            .filter(~F.col("doc_id").isin(list(victims))))
    want = bm25_topk(spark, live, qterms=qt, round_to=None).collect()
    got = bm25_topk_wand(spark, reader, qterms=qt).collect()
    assert [r[:3] for r in got] == [r[:3] for r in want]
    assert [r.score for r in got] == pytest.approx(
        [r.score for r in want], abs=1e-6)
    tied = [r for r in want if r.query_id == 3]
    assert len(tied) == 2 and tied[0].score == tied[1].score
    assert {r.query_id for r in want} == {1, 2, 3}

    cands = bm25_topk_wand(spark, reader, qterms=qt, candidates=True)
    assert cands.columns == ["query_id", "doc_id", "score", "k"]
    rows = cands.collect()
    assert {(r.query_id, r.k) for r in rows} == {(1, 1), (2, 5), (3, 2)}
    # tie-inclusive: both tied docs stay candidates of the k=1 query
    assert {r.doc_id for r in tied} <= {r.doc_id for r in rows
                                        if r.query_id == 1}


def test_delete_updates_stats_and_lineage(spark, deleted_and_clean):
    del_dir, clean_dir, _ = deleted_and_clean
    a = IndexReader(spark, del_dir).corpus_stats().first()
    b = IndexReader(spark, clean_dir).corpus_stats().first()
    assert (a["n_docs"], a["sum_dl"]) == (b["n_docs"], b["sum_dl"])
    st = read_state(del_dir)
    assert len(st.committed_batches) == 2  # build + delete batch
    assert "delete" in set(read_lineage(del_dir)["status"])
    # idempotent re-delete: nothing left to match, no new batch
    res = delete_by_query(spark, del_dir, must=[["merge", "batch"]])
    assert res["n_tombstones"] == 0 and res["batch_id"] is None
    assert len(read_state(del_dir).committed_batches) == 2


def test_reader_stats_surface(spark, deleted_and_clean):
    """ES _stats analog: totals reconcile with the gated readers, and the
    delete batch shows up as a segment with its tombstones counted."""
    del_dir, clean_dir, victims = deleted_and_clean
    st = IndexReader(spark, del_dir).stats()
    cs = IndexReader(spark, del_dir).corpus_stats().first()
    assert st["n_docs"] == cs["n_docs"]
    assert st["sum_doc_len"] == cs["sum_dl"]
    assert st["n_segments"] == len(st["committed_batches"]) == 2
    assert st["n_tombstones"] == len(victims)
    assert st["n_posting_rows"] > 0 and st["postings_bytes"] > 0
    assert st["n_position_rows"] == 0 and not st["has_positions"]


def test_compaction_reclaims_deleted(spark, deleted_and_clean):
    del_dir, clean_dir, victims = deleted_and_clean
    compact_index(spark, del_dir)
    reader = IndexReader(spark, del_dir)
    assert reader.tombstones_df() is None  # physically gone
    got = _topk(spark, del_dir)
    assert got == _topk(spark, clean_dir)


def test_delete_crash_before_state_flip_is_invisible_then_retryable(
        spark, tmp_path_factory):
    """Kill the delete after the tombstone write but before the state flip:
    readers (gated on committed state) must see NOTHING changed; the retry
    reuses the same batch id and lands the delete exactly once."""
    import elasticsearch_data_import_handler_spark.plans.build as B

    d = str(tmp_path_factory.mktemp("dbq_crash"))
    build_index(spark, synth_pages(spark, 200, seed=42), d, tau=100,
                n_buckets=4)
    before = _topk(spark, d)
    n_victims = bool_query(spark, IndexReader(spark, d),
                           must=["merge"]).count()
    assert n_victims > 0

    real = B._df_corrections_df

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    B._df_corrections_df = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            delete_by_query(spark, d, must=["merge"])
    finally:
        B._df_corrections_df = real

    # uncommitted tombstones are invisible: same state, same results
    st = read_state(d)
    assert st.committed_batches == [0]
    assert _topk(spark, d) == before
    assert IndexReader(spark, d).tombstones_df() is None

    # retry: same batch id, overwrite-idempotent artifacts, lands once
    res = delete_by_query(spark, d, must=["merge"])
    assert res["n_tombstones"] == n_victims and res["batch_id"] == 1
    assert read_state(d).committed_batches == [0, 1]
    got = _topk(spark, d)
    assert got != before
    shutil.rmtree(d, ignore_errors=True)

"""update_by_query: upsert-commit semantics — after an update, the index's
statistics and query behavior must equal an index built fresh from the
already-transformed pages (the delete_by_query gold-standard, upsert
flavor)."""

from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.textsearch import bool_query
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_index,
    update_by_query,
)
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


def _transform(c):
    # applies to the ANALYZED text column (the one docs_versioned reads)
    return F.concat(c, F.lit(" zzupdated"))


def test_update_by_query_equals_fresh_build(spark, tmp_path):
    upd_dir = str(tmp_path / "ubq")
    clean_dir = str(tmp_path / "ubq_clean")
    pages = synth_pages(spark, 200, seed=7)
    build_index(spark, pages, upd_dir, tau=100, n_buckets=4)

    reader = IndexReader(spark, upd_dir)
    victims = bool_query(spark, reader, must=["merge"]).select("doc_id") \
        .join(reader.doc_stats().select("doc_id", "url"), "doc_id")
    victim_urls = {r["url"] for r in victims.collect()}
    assert victim_urls

    res = update_by_query(spark, upd_dir, pages, _transform, must=["merge"])
    assert res["batch_id"] == 1

    # the marker token now matches EXACTLY the updated docs, old versions
    # are tombstoned (same url never matches twice)
    r2 = IndexReader(spark, upd_dir)
    marked = bool_query(spark, r2, must=["zzupdated"]).select("doc_id") \
        .join(r2.doc_stats().select("doc_id", "url"), "doc_id")
    assert {r["url"] for r in marked.collect()} == victim_urls

    # corpus cardinality unchanged: update is an upsert, not an insert
    assert r2.state.n_docs == 200

    # gold standard: lexicon (term, df) equals a FRESH index built from the
    # pre-transformed pages
    transformed = pages.withColumn(
        "text",
        F.when(F.col("url").isin(*victim_urls),
               _transform(F.col("text"))).otherwise(F.col("text")))
    build_index(spark, transformed, clean_dir, tau=100, n_buckets=4)
    lex_u = {(r["term"], r["df"]) for r in
             r2.lexicon().select("term", "df").collect()}
    lex_c = {(r["term"], r["df"]) for r in
             IndexReader(spark, clean_dir).lexicon()
             .select("term", "df").collect()}
    assert lex_u == lex_c


def test_update_by_query_no_matches_is_noop(spark, tmp_path):
    d = str(tmp_path / "ubq0")
    build_index(spark, synth_pages(spark, 60, seed=3), d, tau=100,
                n_buckets=4)
    res = update_by_query(spark, d, synth_pages(spark, 60, seed=3),
                          _transform, must=["zzzznotaterm"])
    assert res["n_updated"] == 0 and res["batch_id"] is None


def test_reindex_active_set_new_analyzer_alias_flip(spark, tmp_path):
    """_reindex: the new index holds EXACTLY the source's active set (the
    delete's victims stay gone), under a NEW analyzer the source could
    never switch to in place; the alias flip completes the ES
    zero-downtime migration pattern."""
    from elasticsearch_data_import_handler_spark.plans.aliases import (
        AliasCatalog, search_alias)
    from elasticsearch_data_import_handler_spark.plans.build import (
        delete_by_query, reindex)

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    pages = synth_pages(spark, 150, seed=11)
    build_index(spark, pages, src, tau=100, n_buckets=4)
    d = delete_by_query(spark, src, must=["merge"])
    assert d["n_tombstones"] > 0
    active = 150 - d["n_tombstones"]

    res = reindex(spark, src, pages, dst, tau=100, n_buckets=4,
                  analyzer={"stemmer": "porter"})
    assert res["n_docs"] == active
    r2 = IndexReader(spark, dst)
    assert r2.state.analyzer.get("stemmer") == "porter"
    assert r2.state.n_docs == active
    # the victims stayed gone: 'merge' stems to 'merg' under porter, and
    # every doc containing it was deleted upstream
    assert bool_query(spark, r2, must=["merge"]).count() == 0

    # zero-downtime flip: alias points at src, then atomically at dst
    cat = AliasCatalog(str(tmp_path))
    cat.add("docs", src)
    cat.actions([{"remove": {"alias": "docs", "index": src}},
                 {"add": {"alias": "docs", "index": dst}}])
    hits = search_alias(spark, cat, "docs", must=["data"])
    assert hits.count() > 0

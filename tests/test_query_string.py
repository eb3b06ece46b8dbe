"""query_string_search: parser, lexicon expansion, and end-to-end semantics
against a hand-built positional index."""

import shutil

import pytest

from elasticsearch_data_import_handler_spark.operators.search import (
    parse_query_string,
    query_string_search,
)


def test_parse_query_string():
    p = parse_query_string('"big data"~2 +spark -ocean luce* te?m fuzz~ deep~2 plain')
    assert p["phrases"] == [("big data", 2)]
    assert p["must"] == [("term", "spark", 1.0)]
    assert p["must_not"] == [("term", "ocean", 1.0)]
    assert p["should"] == [("prefix", "luce", 1.0), ("wildcard", "te?m", 1.0),
                           ("fuzzy", "fuzz", 1, 1.0), ("fuzzy", "deep", 2, 1.0),
                           ("term", "plain", 1.0)]
    b = parse_query_string('+spark^2 merge^0.5 luce*^3')
    assert b["must"] == [("term", "spark", 2.0)]
    assert b["should"] == [("term", "merge", 0.5), ("prefix", "luce", 3.0)]
    assert parse_query_string('"exact phrase"')["phrases"] == [("exact phrase", 0)]


@pytest.fixture(scope="module")
def qs_index(spark, tmp_path_factory):
    import pandas as pd

    from elasticsearch_data_import_handler_spark.plans.build import build_index
    from elasticsearch_data_import_handler_spark.sources.corpus import PAGES_SCHEMA

    rows = [
        ("u1", "spark engine handles big data pipelines", ),
        ("u2", "lucene index and spark together", ),
        ("u3", "the ocean is big data free", ),
        ("u4", "spark spark spark lucena", ),
        ("u5", "big data without the engine", ),
    ]
    pdf = pd.DataFrame({
        "url": [r[0] for r in rows],
        "warc_ts": pd.to_datetime("2026-01-01"),
        "html": [b"" for _ in rows],
        "text": [r[1] for r in rows],
        "lang": "en",
    })
    df = spark.createDataFrame(pdf, PAGES_SCHEMA)
    d = str(tmp_path_factory.mktemp("qsidx"))
    build_index(spark, df, d, tau=100, n_buckets=4, positions=True)
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader
    yield spark, IndexReader(spark, d), d
    shutil.rmtree(d, ignore_errors=True)


def _doc_urls(reader, rows):
    ds = {r["doc_id"]: r["url"] for r in reader.doc_stats().collect()}
    return [ds[r["doc_id"]] for r in rows]


def test_query_string_end_to_end(qs_index):
    spark, reader, _ = qs_index

    # phrase + must_not: docs with "big data" contiguous, excluding 'ocean'
    rows = query_string_search(spark, reader, '"big data" -ocean').collect()
    assert set(_doc_urls(reader, rows)) == {"u1", "u5"}

    # prefix expansion: luce* -> lucene, lucena
    rows = query_string_search(spark, reader, "luce*").collect()
    assert set(_doc_urls(reader, rows)) == {"u2", "u4"}

    # fuzzy: lucene~1 matches lucene and lucena
    rows = query_string_search(spark, reader, "lucene~1").collect()
    assert set(_doc_urls(reader, rows)) == {"u2", "u4"}

    # wildcard in must position, combined with should scoring
    rows = query_string_search(spark, reader, "+luc?n? spark").collect()
    assert set(_doc_urls(reader, rows)) == {"u2", "u4"}

    # must term ranks tf: u4 (3x spark) must outrank u2 (1x spark)
    rows = query_string_search(spark, reader, "+spark").collect()
    urls = _doc_urls(reader, sorted(rows, key=lambda r: r["rank"]))
    assert urls[0] == "u4" and set(urls) == {"u1", "u2", "u4"}

    # sloppy phrase: "spark data" within slop 2 only in u1
    # (u1: spark engine handles big data -> distance 4; too far) — use slop 4
    r0 = query_string_search(spark, reader, '"spark data"').collect()
    assert r0 == []
    r4 = query_string_search(spark, reader, '"spark data"~3').collect()
    assert set(_doc_urls(reader, r4)) == {"u1"}

    # ranks are contiguous from 1 and scores non-increasing
    rows = sorted(query_string_search(spark, reader, "big data spark").collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(a["score"] >= b["score"] for a, b in zip(rows, rows[1:]))

    with pytest.raises(ValueError):
        query_string_search(spark, reader, "-onlyexcluded")


def test_facet_search_buckets(qs_index):
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.search import (
        facet_search)

    spark, reader, _ = qs_index
    # doc-values analog: metadata keyed by INDEX doc_id (lang by url)
    meta = reader.doc_stats().select(
        "doc_id",
        F.when(F.col("url").isin("u1", "u2"), "en").otherwise("de")
        .alias("lang"),
        F.substring("url", 1, 1).alias("kind"))
    out = facet_search(spark, reader, meta, ["lang", "kind"], must=["spark"])
    rows = {(r["facet"], r["value"]): r for r in out.collect()}
    # matches: u1, u2, u4 (docs containing 'spark')
    assert rows[("lang", "en")]["doc_count"] == 2
    assert rows[("lang", "de")]["doc_count"] == 1
    assert rows[("kind", "u")]["doc_count"] == 3
    assert all(r["sum_score"] > 0 for r in rows.values())
    # top_n=1 keeps only the biggest bucket per facet
    top1 = facet_search(spark, reader, meta, ["lang"], must=["spark"],
                        top_n=1).collect()
    assert len(top1) == 1 and top1[0]["value"] == "en"
    import pytest
    with pytest.raises(ValueError):
        facet_search(spark, reader, meta, [], must=["spark"])


def test_facet_search_metric_sub_aggs(qs_index):
    """Metric sub-aggs per bucket in ONE pass: min/max/sum/avg/stats, with
    the documented determinism policy (min/max 4dp, sum 2dp, avg =
    round(sum_2dp / count, 6))."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.search import (
        facet_search)
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)

    spark, reader, _ = qs_index
    meta = reader.doc_stats().select(
        "doc_id",
        F.when(F.col("url").isin("u1", "u2"), "en").otherwise("de")
        .alias("lang"))
    out = facet_search(spark, reader, meta, ["lang"], must=["spark"],
                       sub_aggs={"sc": ("stats", "score"),
                                 "mx": ("max", "score"),
                                 "av": ("avg", "score")})
    rows = {r["value"]: r for r in out.collect()}
    scores = {}
    for r in bool_query(spark, reader, must=["spark"], round_to=4).join(
            meta, "doc_id").select("lang", "score").collect():
        scores.setdefault(r["lang"], []).append(r["score"])
    for lang, ss in scores.items():
        r = rows[lang]
        assert r["sc_min"] == round(min(ss), 4)
        assert r["sc_max"] == round(max(ss), 4) == r["mx"]
        assert r["sc_sum"] == round(sum(ss), 2)
        assert r["sc_avg"] == round(round(sum(ss), 2) / len(ss), 6) == r["av"]
    with pytest.raises(ValueError, match="unknown sub-agg"):
        facet_search(spark, reader, meta, ["lang"], must=["spark"],
                     sub_aggs={"x": ("median", "score")}).collect()


def test_more_like_this_ranks_similar_docs(qs_index):
    from elasticsearch_data_import_handler_spark.operators.search import (
        more_like_this)

    spark, reader, _ = qs_index
    ds = {r["url"]: r["doc_id"] for r in reader.doc_stats().collect()}
    seed_text = "spark engine handles big data pipelines"   # u1
    rows = more_like_this(spark, reader, seed_text, seed_doc_id=ds["u1"],
                          min_doc_freq=2).collect()
    urls = {u for u, d in ds.items()
            if d in {r["doc_id"] for r in rows}}
    assert ds["u1"] not in {r["doc_id"] for r in rows}       # seed excluded
    # every other doc shares ≥1 selected term (spark/big/data/engine/the)
    assert urls == {"u2", "u3", "u4", "u5"}
    ranked = sorted(rows, key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == list(range(1, len(ranked) + 1))
    assert all(a["score"] >= b["score"] for a, b in zip(ranked, ranked[1:]))
    # candidates=True returns the same scored set, unranked
    cand = more_like_this(spark, reader, seed_text, seed_doc_id=ds["u1"],
                          min_doc_freq=2, candidates=True).collect()
    assert {r["doc_id"] for r in cand} == {r["doc_id"] for r in rows}


def test_phrase_suggest_corrects_misspelled_phrase(spark):
    """ES phrase suggester: the whole-phrase correction outranks the
    literal misspelling because the bigram LM has seen the corrected
    pair; suggestions rank by LM×error-model score."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        phrase_suggest, shingle_counts)

    docs = spark.createDataFrame(
        [(i, "spark sql engine runs spark sql jobs") for i in range(8)]
        + [(100 + i, "spork is cutlery") for i in range(2)],
        "doc_id long, text string")
    out = phrase_suggest(docs, "spagk sql", max_dist=1, per_token=4,
                         size=3).collect()
    assert out[0]["suggestion"] == "spark sql"
    assert out[0]["rank"] == 1
    # scores strictly ordered, ranks contiguous
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))

    # precomputed shingle table (the ES index-time shingle field) gives
    # identical results
    bg = shingle_counts(docs)
    out2 = phrase_suggest(docs, "spagk sql", max_dist=1, per_token=4,
                          size=3, bigrams=bg).collect()
    assert [(r["suggestion"], r["score"]) for r in out2] \
        == [(r["suggestion"], r["score"]) for r in out]

    # real-word input: the identity phrase wins when the corpus supports it
    ok = phrase_suggest(docs, "spark sql", max_dist=1, per_token=4,
                        size=2).collect()
    assert ok[0]["suggestion"] == "spark sql"


def test_pinned_query_order_and_exclusion(spark):
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        pinned_query)

    organic = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0), (4, 6.0)], ["doc_id", "score"])
    out = pinned_query(organic, [4, 2], k=4).orderBy("rank").collect()
    # pinned first in the GIVEN order with NULL scores, organic after
    # with the pinned ids removed, absolute ranks
    assert [(r["doc_id"], r["rank"]) for r in out] == [
        (4, 1), (2, 2), (1, 3), (3, 4)]
    assert out[0]["score"] is None and out[2]["score"] == 9.0


def test_rank_eval_metrics(spark):
    from elasticsearch_data_import_handler_spark.operators.search import (
        rank_eval)

    hits = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12),
         (2, 1, 20), (2, 2, 21)], ["query_id", "rank", "doc_id"])
    rel = spark.createDataFrame(
        [(1, 11), (1, 12), (1, 99), (2, 77)], ["query_id", "doc_id"])
    out = {(r["query_id"], r["metric"]): r["value"]
           for r in rank_eval(hits, rel).collect()}
    assert out[(1, "precision")] == round(2 / 3, 6)
    assert out[(1, "recall")] == round(2 / 3, 6)
    assert out[(1, "mrr")] == 0.5          # first relevant at rank 2
    assert out[(2, "precision")] == 0.0
    assert out[(2, "recall")] == 0.0 and out[(2, "mrr")] == 0.0


def test_clause_boosts_scale_contributions(spark, tmp_path):
    """bool_query boosts: a term's BM25 contribution scales by its clause
    boost — boosted query score == unboosted contributions recombined."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)
    from elasticsearch_data_import_handler_spark.plans.build import (
        build_index, IndexReader)
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        synth_pages)

    d = str(tmp_path / "bq")
    build_index(spark, synth_pages(spark, 120, seed=9), d, tau=100,
                n_buckets=4)
    reader = IndexReader(spark, d)
    a = {r["doc_id"]: r["score"] for r in
         bool_query(spark, reader, should=["spark"], min_should=1).collect()}
    b = {r["doc_id"]: r["score"] for r in
         bool_query(spark, reader, should=["merge"], min_should=1).collect()}
    both = {r["doc_id"]: r["score"] for r in
            bool_query(spark, reader, should=["spark", "merge"],
                       min_should=1,
                       boosts={"spark": 2.0, "merge": 0.5}).collect()}
    for doc, sc in both.items():
        want = 2.0 * a.get(doc, 0.0) + 0.5 * b.get(doc, 0.0)
        assert abs(sc - want) < 1e-9


def test_dis_max_clause_boosts(spark, tmp_path):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        dis_max_query)
    from elasticsearch_data_import_handler_spark.plans.build import (
        build_index, IndexReader)
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        synth_pages)

    d = str(tmp_path / "dmb")
    build_index(spark, synth_pages(spark, 100, seed=4), d, tau=100,
                n_buckets=4)
    reader = IndexReader(spark, d)
    plain = {r["doc_id"]: r["score"] for r in
             dis_max_query(spark, reader, [["spark"], ["merge"]],
                           tie_breaker=0.0).collect()}
    doubled = {r["doc_id"]: r["score"] for r in
               dis_max_query(spark, reader, [["spark"], ["merge"]],
                             tie_breaker=0.0,
                             boosts={"spark": 2.0, "merge": 2.0}).collect()}
    for doc, sc in doubled.items():
        assert abs(sc - 2.0 * plain[doc]) < 1e-9


def test_fuzzy_osa_transpositions(spark):
    """OSA counts an adjacent swap as one edit (ES transpositions default);
    classic Levenshtein counts two — 'from' at distance 1 vs 2 from 'form'."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        fuzzy_terms, fuzzy_terms_osa)

    docs = spark.createDataFrame(
        [(1, "from whence it came"), (2, "form of the thing"),
         (3, "fort on the hill")], ["doc_id", "text"])
    osa1 = {r["term"]: r["dist"] for r in
            fuzzy_terms_osa(docs, "form", max_dist=1).collect()}
    assert osa1["from"] == 1 and osa1["form"] == 0 and osa1["fort"] == 1
    lev1 = {r["term"] for r in
            fuzzy_terms(docs, "form", max_dist=1).collect()}
    assert "from" not in lev1          # classic distance 2

    # pure-Python OSA reference over adversarial pairs
    def ref(a, b):
        import itertools
        m, n = len(a), len(b)
        d = [[0] * (n + 1) for _ in range(m + 1)]
        for i, j in itertools.product(range(m + 1), range(n + 1)):
            if i == 0 or j == 0:
                d[i][j] = max(i, j)
        for i in range(1, m + 1):
            for j in range(1, n + 1):
                c = 0 if a[i - 1] == b[j - 1] else 1
                d[i][j] = min(d[i - 1][j] + 1, d[i][j - 1] + 1,
                              d[i - 1][j - 1] + c)
                if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                        and a[i - 2] == b[j - 1]):
                    d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
        return d[m][n]

    assert ref("ca", "abc") == 3       # OSA, not unrestricted Damerau (2)
    words = ["batch", "bacth", "bathc", "btach", "batch1", "abtch"]
    docs2 = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], ["doc_id", "text"])
    got = {r["term"]: r["dist"] for r in
           fuzzy_terms_osa(docs2, "batch", max_dist=2).collect()}
    for w in words:
        rd = ref("batch", w)
        if rd <= 2:
            assert got[w] == rd, w
        else:
            assert w not in got

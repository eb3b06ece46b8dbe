"""phrase_search_slop + bool_query vs brute-force Python ground truth.

Truth is computed driver-side from the same versioned docs the index was
built from (tiny fixture corpus), so the tests pin the exact semantics:
slop = in-order terms within a (n-1)+slop window counting distinct starts;
bool = must/should/min_should/must_not gating with BM25 over matched terms.
"""

import math
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
from elasticsearch_data_import_handler_spark.operators.indexing import BM25_B, BM25_K1
from elasticsearch_data_import_handler_spark.operators.textsearch import (
    bool_query,
    phrase_match,
    phrase_search_slop,
)
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_index,
    docs_versioned,
)
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bsidx"))
    pages = synth_pages(spark, 300, seed=42)
    build_index(spark, pages, d, tau=100, n_buckets=4, positions=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def doc_tokens(spark):
    docs = docs_versioned(dedup_latest(synth_pages(spark, 300, seed=42)))
    return {r["doc_id"]: list(r["tokens"])
            for r in docs.select("doc_id", "tokens").collect()}


def _slop_truth(tokens_by_doc, words, slop):
    """Distinct starts of the first term with an in-order completion whose
    span is <= (n-1)+slop — the exists-quantified brute force."""
    maxspan = len(words) - 1 + slop
    out = {}
    for doc_id, toks in tokens_by_doc.items():
        pos = {w: [i for i, t in enumerate(toks) if t == w] for w in set(words)}
        starts = set()
        for p1 in pos[words[0]]:
            frontier = [p1]
            ok = True
            for w in words[1:]:
                nxt = [q for q in pos[w]
                       if any(q > f and q - p1 <= maxspan for f in frontier)]
                if not nxt:
                    ok = False
                    break
                frontier = nxt
            if ok:
                starts.add(p1)
        if starts:
            out[doc_id] = len(starts)
    return out


def test_phrase_slop_matches_bruteforce(spark, pos_index, doc_tokens):
    reader = IndexReader(spark, pos_index)
    for phrase, slop in [("the spark", 2), ("fast the spark", 3)]:
        words = phrase.split()
        got = {r["doc_id"]: r["n_matches"] for r in
               phrase_search_slop(spark, reader, phrase, slop=slop).collect()}
        exp = _slop_truth(doc_tokens, words, slop)
        assert got == exp, f"{phrase} slop={slop}"
        assert len(got) > 0


def test_phrase_slop_zero_equals_contiguous_phrase(spark, pos_index):
    """slop=0 degenerates to match_phrase: every start has exactly the
    contiguous completion, so n_matches == n_occurrences."""
    reader = IndexReader(spark, pos_index)
    got = {r["doc_id"]: r["n_matches"] for r in
           phrase_search_slop(spark, reader, "the spark", slop=0).collect()}
    docs = docs_versioned(dedup_latest(synth_pages(spark, 300, seed=42)))
    exp = {r["doc_id"]: r["n_occurrences"] for r in
           phrase_match(docs.selectExpr(
               "doc_id", "array_join(tokens, ' ') AS text"),
               "the spark").collect()}
    assert got == exp and len(got) > 0


def _bm25_truth(tokens_by_doc, must, should, must_not, min_should):
    n = len(tokens_by_doc)
    avgdl = sum(len(t) for t in tokens_by_doc.values()) / n
    terms = sorted(set(must) | set(should))
    df = {w: sum(1 for t in tokens_by_doc.values() if w in t) for w in terms}
    idf = {w: math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5)) for w in terms}
    out = {}
    for doc_id, toks in tokens_by_doc.items():
        if any(w in toks for w in must_not):
            continue
        hit_m = [w for w in must if w in toks]
        hit_s = [w for w in should if w in toks]
        if len(hit_m) != len(must) or len(hit_s) < min_should:
            continue
        dl = len(toks)
        score = 0.0
        for w in hit_m + hit_s:
            tf = toks.count(w)
            score += idf[w] * tf / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
        out[doc_id] = (len(hit_s), score)
    return out


def test_bool_query_matches_bruteforce(spark, pos_index, doc_tokens):
    reader = IndexReader(spark, pos_index)
    must, should, must_not = ["spark"], ["merge", "batch"], ["vector"]
    got = {r["doc_id"]: (r["should_hits"], r["score"]) for r in
           bool_query(spark, reader, must=must, should=should,
                      must_not=must_not, min_should=1).collect()}
    exp = _bm25_truth(doc_tokens, must, should, must_not, 1)
    assert set(got) == set(exp)
    assert len(got) > 0
    for doc_id, (sh, sc) in got.items():
        esh, esc = exp[doc_id]
        assert sh == esh
        assert abs(sc - esc) < 1e-9


def test_bool_query_should_only_and_validation(spark, pos_index, doc_tokens):
    reader = IndexReader(spark, pos_index)
    # pure-should query (ES "or") with min_should=2
    got = {r["doc_id"]: (r["should_hits"], r["score"]) for r in
           bool_query(spark, reader, should=["merge", "batch", "scan"],
                      min_should=2).collect()}
    exp = _bm25_truth(doc_tokens, [], ["merge", "batch", "scan"], [], 2)
    assert set(got) == set(exp) and len(got) > 0
    with pytest.raises(ValueError):
        bool_query(spark, reader, must=["spark"], should=["spark"])
    with pytest.raises(ValueError):
        bool_query(spark, reader)


def test_dis_max_matches_bruteforce(spark, pos_index, doc_tokens):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        dis_max_query)

    clauses = [["spark", "sql"], ["merge", "batch"], "index"]
    tie = 0.3
    reader = IndexReader(spark, pos_index)
    got = {r["doc_id"]: r["score"] for r in
           dis_max_query(spark, reader, clauses, tie_breaker=tie).collect()}
    # brute force: per-clause BM25 sums, best + tie * rest
    groups = [[c] if isinstance(c, str) else c for c in clauses]
    terms = sorted({t for g in groups for t in g})
    n = len(doc_tokens)
    avgdl = sum(len(t) for t in doc_tokens.values()) / n
    df = {w: sum(1 for t in doc_tokens.values() if w in t) for w in terms}
    idf = {w: math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5)) for w in terms}
    exp = {}
    for doc_id, toks in doc_tokens.items():
        cs = []
        for g in groups:
            s = 0.0
            for w in g:
                tf = toks.count(w)
                if tf:
                    dl = len(toks)
                    s += idf[w] * tf / (tf + BM25_K1 * (
                        1 - BM25_B + BM25_B * dl / avgdl))
            cs.append(s)
        if any(cs):
            best = max(cs)
            exp[doc_id] = best + tie * (sum(cs) - best)
    assert set(got) == set(exp) and len(got) > 0
    for doc_id, sc in got.items():
        assert abs(sc - exp[doc_id]) < 1e-9
    # duplicate terms across clauses are rejected
    with pytest.raises(ValueError):
        dis_max_query(spark, reader, [["spark"], ["spark", "sql"]])
    with pytest.raises(ValueError):
        dis_max_query(spark, reader, [])


def test_function_score_recency_decay(spark, pos_index):
    import math as _m

    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        function_score_query)

    reader = IndexReader(spark, pos_index)
    base = {r["doc_id"]: r["score"] for r in
            bool_query(spark, reader, must=["spark"]).collect()}
    ts = {r["doc_id"]: r["warc_ts"].timestamp() for r in
          reader.doc_stats().select("doc_id", "warc_ts").collect()}
    # ref before every doc -> age clamps to 0 -> identical to bool_query
    past = function_score_query(spark, reader, must=["spark"], ref_epoch=0)
    for r in past.collect():
        assert abs(r["score"] - base[r["doc_id"]]) < 1e-12
    # ref after every doc -> exact 2^(-age/hl) multiplier per doc
    ref = int(max(ts.values())) + 1000
    hl = 700
    got = {r["doc_id"]: r["score"] for r in
           function_score_query(spark, reader, must=["spark"],
                                ref_epoch=ref, half_life_s=hl).collect()}
    assert set(got) == set(base) and len(got) > 0
    for d, sc in got.items():
        exp_mult = _m.exp(_m.log(0.5) / hl * (ref - ts[d]))
        assert abs(sc - base[d] * exp_mult) < 1e-9
        assert sc < base[d]


def test_constant_score_matches_filter(spark, pos_index):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        constant_score_query)

    reader = IndexReader(spark, pos_index)
    rows = constant_score_query(spark, reader, [["spark", "sql"]],
                                boost=2.5).collect()
    assert len(rows) > 0
    assert all(r["score"] == 2.5 for r in rows)
    filt = {r["doc_id"] for r in
            bool_query(spark, reader, must=[["spark", "sql"]]).collect()}
    assert {r["doc_id"] for r in rows} == filt


def test_boosting_demotes_not_excludes(spark, pos_index, doc_tokens):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        boosting_query)

    reader = IndexReader(spark, pos_index)
    pos = {r["doc_id"]: r["score"] for r in
           bool_query(spark, reader, should=[["spark", "sql"]],
                      min_should=1).collect()}
    got = {r["doc_id"]: r["score"] for r in
           boosting_query(spark, reader, positive=[["spark", "sql"]],
                          negative=["merge"], negative_boost=0.25).collect()}
    assert set(got) == set(pos)  # demotion never drops a doc
    demoted = 0
    for doc_id, sc in got.items():
        if "merge" in doc_tokens[doc_id]:
            assert abs(sc - pos[doc_id] * 0.25) < 1e-9
            demoted += 1
        else:
            assert abs(sc - pos[doc_id]) < 1e-9
    assert demoted > 0


def test_paginate_after_tiles_the_ranking(spark, pos_index):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        dis_max_query, paginate_after)

    reader = IndexReader(spark, pos_index)
    ranked = dis_max_query(spark, reader, [["spark", "sql"], "merge"],
                           tie_breaker=0.2, round_to=4)
    want = [(r["doc_id"], r["score"]) for r in
            ranked.orderBy(F.desc("score"), F.asc("doc_id")).collect()]
    assert len(want) > 25
    # ES client loop: page through with the last row as the next cursor
    page_size = 10
    got = want[:page_size]
    while True:
        cur = got[-1]
        page = paginate_after(ranked, (cur[1], cur[0]),
                              page_size=page_size).collect()
        if not page:
            break
        assert [r["page_rank"] for r in page] == list(range(1, len(page) + 1))
        got.extend((r["doc_id"], r["score"]) for r in page)
    assert got == want  # pages tile the full ranking exactly, no dup/gap


def test_suggest_terms_ranking_and_modes(spark, sf_dir):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        suggest_terms)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = suggest_terms(docs, "dat", max_dist=2, size=5).collect()
    assert 0 < len(rows) <= 5
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    # ES order: dist ASC, then df DESC, then term ASC
    keys = [(r["dist"], -r["df"], r["term"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["term"] != "dat" for r in rows)
    # suggest_mode='missing': a term present in the vocabulary suggests
    # nothing; an absent typo still suggests
    present = suggest_terms(docs, "data", max_dist=2, size=5,
                            suggest_mode="missing")
    assert present.count() == 0
    absent = suggest_terms(docs, "dta", max_dist=2, size=5,
                           suggest_mode="missing")
    assert absent.count() > 0
    with pytest.raises(ValueError):
        suggest_terms(docs, "dat", suggest_mode="popular")


def test_phrase_prefix_matches_bruteforce(spark, pos_index, doc_tokens):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        phrase_prefix_search)

    reader = IndexReader(spark, pos_index)
    # expansions of 'sca' in this vocab (e.g. scan, scatter, ...)
    exp = sorted(r["term"] for r in
                 reader.lexicon().filter(F.col("term").startswith("sca"))
                 .collect())[:50]
    assert exp
    for phrase_prefix, lead in [("the sca", ["the"]), ("sca", [])]:
        got = {r["doc_id"]: r["n_matches"] for r in
               phrase_prefix_search(spark, reader, phrase_prefix,
                                    slop=0).collect()}
        want = {}
        for doc_id, toks in doc_tokens.items():
            if lead:
                n = sum(1 for i, t in enumerate(toks[:-1])
                        if t == lead[0] and toks[i + 1] in exp)
            else:
                n = sum(1 for t in toks if t in exp)
            if n:
                want[doc_id] = n
        assert got == want, phrase_prefix
        assert len(got) > 0
    # unmatched prefix → empty frame, stable schema
    none = phrase_prefix_search(spark, reader, "the zzzzqq")
    assert none.count() == 0 and [f.name for f in none.schema.fields] == [
        "doc_id", "n_matches"]


def test_significant_terms_matches_bruteforce(spark, pos_index, doc_tokens):
    from elasticsearch_data_import_handler_spark.operators.search import (
        significant_terms)

    reader = IndexReader(spark, pos_index)
    got = [(r["term"], r["fg_count"], r["bg_count"], r["score"], r["rank"])
           for r in significant_terms(spark, reader, must=["spark"],
                                      size=10, min_doc_count=3).collect()]
    assert got
    # brute force: JLH lift over the same foreground/background
    fg_docs = {d for d, toks in doc_tokens.items() if "spark" in toks}
    n_fg, n_bg = len(fg_docs), len(doc_tokens)
    vocab = {t for toks in doc_tokens.values() for t in toks}
    rows = []
    for t in vocab:
        fg = sum(1 for d in fg_docs if t in doc_tokens[d])
        bg = sum(1 for toks in doc_tokens.values() if t in toks)
        fg_pct, bg_pct = fg / n_fg, bg / n_bg
        if fg >= 3 and fg_pct > bg_pct:
            rows.append((t, fg, bg,
                         round((fg_pct - bg_pct) * (fg_pct / bg_pct), 6)))
    rows.sort(key=lambda r: (-r[3], r[0]))
    want = [(t, fg, bg, s, i + 1) for i, (t, fg, bg, s) in enumerate(rows[:10])]
    assert got == want
    # 'spark' itself is maximally significant (fg% = 1) — sanity anchor
    assert got[0][0] == "spark"


def test_terms_set_query_modes(spark, pos_index, doc_tokens):
    """terms_set: fixed / fractional / per-doc-field thresholds against
    the brute-force distinct-matched-terms count."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        terms_set_query)
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader

    reader = IndexReader(spark, pos_index)
    terms = ["spark", "merge", "batch"]
    truth = {d: len(set(terms) & set(toks))
             for d, toks in doc_tokens.items()}

    for req in (1, 2, 3):
        got = {r["doc_id"]: r["n_matched"]
               for r in terms_set_query(spark, reader, terms, req).collect()}
        want = {d: n for d, n in truth.items() if n >= req}
        assert got == want, req
    # fraction: 0.67 of 3 -> floor(2.01) = 2
    got_f = {r["doc_id"] for r in
             terms_set_query(spark, reader, terms, 0.67).collect()}
    assert got_f == {d for d, n in truth.items() if n >= 2}
    # per-doc field: even doc_ids need 1, odd need 3; absent -> all 3
    reqdf = spark.createDataFrame(
        [(d, 1 if d % 2 == 0 else 3) for d in list(truth)[:50]],
        "doc_id long, required_matches int")
    got_d = {r["doc_id"] for r in
             terms_set_query(spark, reader, terms, reqdf).collect()}
    listed = set(list(truth)[:50])
    want_d = {d for d, n in truth.items()
              if n >= ((1 if d % 2 == 0 else 3) if d in listed else 3)}
    assert got_d == want_d


def test_function_score_family(spark, pos_index):
    """Round-5 ES function list: gauss/linear decay shapes, field_value_
    factor, seeded random_score, weight — boost_mode multiply over the
    same bool-query base."""
    import math as _m

    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        function_score_query, random_score_expr)

    reader = IndexReader(spark, pos_index)
    base = {r["doc_id"]: r["score"] for r in
            bool_query(spark, reader, must=["spark"]).collect()}
    ts = {r["doc_id"]: r["warc_ts"].timestamp() for r in
          reader.doc_stats().select("doc_id", "warc_ts").collect()}
    dl = {r["doc_id"]: r["doc_len"] for r in
          reader.doc_stats().select("doc_id", "doc_len").collect()}
    origin = int(min(ts.values())) + 500

    # gauss: exact shape, symmetric in |ts - origin|
    got = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "gauss", "field": "warc_ts", "origin": origin,
                    "scale": 300, "decay": 0.5}]).collect()}
    sigma2 = -(300.0 ** 2) / (2.0 * _m.log(0.5))
    for d, sc in got.items():
        m = _m.exp(-((ts[d] - origin) ** 2) / (2.0 * sigma2))
        assert abs(sc - base[d] * m) < 1e-9

    # linear: hits exactly 0 beyond s = scale/(1-decay)
    got = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "linear", "field": "warc_ts",
                    "origin": origin, "scale": 100,
                    "decay": 0.5}]).collect()}
    s = 200.0
    for d, sc in got.items():
        m = max(0.0, (s - abs(ts[d] - origin)) / s)
        assert abs(sc - base[d] * m) < 1e-9
    assert any(sc == 0.0 for sc in got.values())  # far docs clamp to 0

    # field_value_factor sqrt on doc_len
    got = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "field_value_factor", "field": "doc_len",
                    "factor": 0.5, "modifier": "sqrt"}]).collect()}
    for d, sc in got.items():
        assert abs(sc - base[d] * 0.5 * _m.sqrt(dl[d])) < 1e-9

    # random: in [0,1), deterministic across runs, seed changes it
    g1 = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "random", "seed": 7}]).collect()}
    g2 = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "random", "seed": 7}]).collect()}
    g3 = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "random", "seed": 8}]).collect()}
    assert g1 == g2 and g1 != g3
    for d, sc in g1.items():
        assert 0.0 <= sc < base[d] or base[d] == 0.0

    # weight + chaining: two functions multiply
    got = {r["doc_id"]: r["score"] for r in function_score_query(
        spark, reader, must=["spark"],
        functions=[{"type": "weight", "weight": 3.0},
                   {"type": "field_value_factor", "field": "doc_len",
                    "factor": 1.0, "modifier": "none"}]).collect()}
    for d, sc in got.items():
        assert abs(sc - base[d] * 3.0 * dl[d]) < 1e-9


def test_match_bool_prefix_equals_manual_compose(spark, pos_index):
    """match_bool_prefix == bool_query(should=[leading terms..., OR-group
    of the last token's dictionary-ordered prefix expansions])."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        match_bool_prefix)

    reader = IndexReader(spark, pos_index)
    exp = sorted(r["term"] for r in
                 reader.lexicon().filter(F.col("term").startswith("sq"))
                 .collect())[:50]
    assert exp, "fixture must contain sq* terms"
    want = {(r["doc_id"], r["score"]) for r in
            bool_query(spark, reader, should=["spark", exp], min_should=1,
                       round_to=4).collect()}
    got = {(r["doc_id"], r["score"]) for r in
           match_bool_prefix(spark, reader, "spark sq").collect()}
    assert got == want and got
    # any-order term-bag semantics: strictly more docs than the span-based
    # phrase_prefix on the same text (those require adjacency)
    with pytest.raises(ValueError):
        match_bool_prefix(spark, reader, "")


def test_msm_spec_forms():
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        msm_to_int)

    assert msm_to_int(3, 5) == 3
    assert msm_to_int(-1, 5) == 4          # all but one
    assert msm_to_int("75%", 4) == 3       # rounded down
    assert msm_to_int("75%", 5) == 3       # 3.75 -> 3 (ES rounds down)
    assert msm_to_int("-25%", 4) == 3      # all minus floor(25%)
    assert msm_to_int("2<75%", 2) == 2     # at/below threshold: all
    assert msm_to_int("2<75%", 8) == 6
    assert msm_to_int("200%", 3) == 3      # clamped
    assert msm_to_int(-99, 3) == 0


def test_bool_query_msm_percentage(spark, tmp_path):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        synth_pages)

    d = str(tmp_path / "msm")
    build_index(spark, synth_pages(spark, 80, seed=2), d, tau=100,
                n_buckets=4)
    reader = IndexReader(spark, d)
    should = ["spark", "merge", "batch", "data"]
    pct = bool_query(spark, reader, should=should, min_should="50%")
    exact = bool_query(spark, reader, should=should, min_should=2)
    assert ({r["doc_id"] for r in pct.collect()}
            == {r["doc_id"] for r in exact.collect()})

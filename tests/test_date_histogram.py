"""date_histogram_search vs a brute-force recompute from the same index.

Truth: run the already-tested bool_query, then bucket its (doc_id, score)
rows driver-side by the integer epoch arithmetic the operator defines —
pins the bucket-key math (epoch-millis bucket start, fixed_interval) and
the doc_count / 2dp-sum sub-agg semantics."""

import shutil
from collections import defaultdict

import pytest

from elasticsearch_data_import_handler_spark.operators.search import (
    date_histogram_search,
)
from elasticsearch_data_import_handler_spark.operators.textsearch import bool_query
from elasticsearch_data_import_handler_spark.plans.build import (
    IndexReader,
    build_index,
)
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages


@pytest.fixture(scope="module")
def dh_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dhidx"))
    build_index(spark, synth_pages(spark, 300, seed=42), d, tau=100,
                n_buckets=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_date_histogram_matches_bruteforce(spark, dh_index):
    reader = IndexReader(spark, dh_index)
    interval = 60
    got = {r["value"]: (r["doc_count"], r["sum_score"], r["facet"])
           for r in date_histogram_search(
               spark, reader, interval_s=interval,
               must=["spark"], should=["merge"]).collect()}

    scored = bool_query(spark, reader, must=["spark"], should=["merge"],
                        round_to=4)
    ts = {r["doc_id"]: int(r["warc_ts"].timestamp())
          for r in reader.doc_stats().select("doc_id", "warc_ts").collect()}
    buckets = defaultdict(lambda: [0, 0.0])
    for r in scored.collect():
        key = str((ts[r["doc_id"]] // interval) * interval * 1000)
        buckets[key][0] += 1
        buckets[key][1] += r["score"]
    want = {k: (n, round(s, 2), "dh:60s") for k, (n, s) in buckets.items()}
    assert got == want
    assert len(got) >= 2  # the fixture really spans multiple buckets


def test_top_hits_facets_per_bucket(spark, dh_index):
    """Each bucket's hits are its own best-scoring matches, ranked 1..k."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.search import (
        top_hits_facets)

    reader = IndexReader(spark, dh_index)
    meta = reader.doc_stats().select(
        "doc_id", F.pmod(F.xxhash64("url"), F.lit(3)).cast("string").alias("b"))
    got = {}
    for r in top_hits_facets(spark, reader, meta, "b", hits_per_bucket=2,
                             must=["spark"], should=["merge"]).collect():
        got.setdefault(r["value"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
        assert r["facet"] == "th:b"
    scored = bool_query(spark, reader, must=["spark"], should=["merge"],
                        round_to=4).join(meta, "doc_id")
    want = {}
    for r in scored.collect():
        want.setdefault(r["b"], []).append((r["doc_id"], r["score"]))
    assert set(got) == set(want) and len(got) == 3
    for b, hits in got.items():
        best = sorted(want[b], key=lambda t: (-t[1], t[0]))[:2]
        assert sorted(hits) == [(i + 1, d, s) for i, (d, s) in enumerate(best)]


def test_pipeline_aggs_over_histogram(spark, dh_index):
    """derivative + cumulative_sum composed on date_histogram buckets,
    checked against a driver-side recompute in bucket-key order."""
    from elasticsearch_data_import_handler_spark.operators.search import (
        date_histogram_search, pipeline_aggs)

    reader = IndexReader(spark, dh_index)
    buckets = date_histogram_search(spark, reader, interval_s=60,
                                    must=["spark"], should=["merge"])
    rows = sorted(pipeline_aggs(buckets).collect(),
                  key=lambda r: int(r["value"]))
    assert len(rows) >= 2
    assert rows[0]["derivative"] is None  # ES: first bucket has none
    run = 0.0
    prev = None
    for r in rows:
        if prev is not None:
            assert r["derivative"] == r["doc_count"] - prev
        run = round(run + r["sum_score"], 2)
        assert r["cumulative_sum"] == run
        prev = r["doc_count"]

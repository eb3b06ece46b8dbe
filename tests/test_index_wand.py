"""M2: persisted compressed index + block-max WAND ≡ join-scorer ≡ oracle."""

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
from elasticsearch_data_import_handler_spark.plans.build import IndexReader, build_index
from elasticsearch_data_import_handler_spark.plans.state import BuildLock, read_lineage, read_state
from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages
from tests.oracle.bm25_join import bm25_topk


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    pages = synth_pages(spark, 400, seed=42)
    # tau small → multiple doc-hash shards, exercising the sharded WAND merge
    metrics = build_index(spark, pages, d, tau=100, n_buckets=4)
    assert metrics["s_shards"] == 4  # 400 docs / tau=100 → 4 shards
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_wand_equals_join_scorer(spark, index_dir):
    """The persisted-index WAND path must equal the in-memory join scorer on
    the same docs frame (versioned doc_ids, as the builder derives them)."""
    pages = synth_pages(spark, 400, seed=42)
    from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
    from elasticsearch_data_import_handler_spark.plans.build import docs_versioned

    docs = docs_versioned(dedup_latest(pages))
    expected = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
                for r in bm25_topk(spark, docs, round_to=None).collect()}
    reader = IndexReader(spark, index_dir)
    got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
           for r in bm25_topk_wand(spark, reader).collect()}
    assert set(got) == set(expected)
    for key, (gd, gs) in got.items():
        ed, es = expected[key]
        assert gd == ed, f"{key}: doc {gd} != {ed}"
        assert abs(gs - es) <= 1e-6, f"{key}: score {gs} != {es}"


def test_index_layout_and_state(spark, index_dir):
    st = read_state(index_dir)
    assert st is not None and st.s_shards == 4 and st.n_buckets == 4
    post = spark.read.parquet(f"{index_dir}/postings")
    # bucket is the parquet partition column; salts within [0, S)
    assert set(post.select("salt").distinct().toPandas()["salt"]) <= set(range(4))
    # n_docs per (term, salt) bounded by ~tau + slack (uniform sharding works)
    assert post.agg(F.max("n_docs")).first()[0] <= 100 * 3
    lin = read_lineage(index_dir)
    assert len(lin) == 1 and lin.iloc[0]["status"] == "done"
    assert lin.iloc[0]["n_docs"] == 400


def test_build_lock_blocks_concurrent(spark, index_dir):
    with BuildLock(index_dir):
        lock2 = BuildLock(index_dir)
        assert lock2.acquire() is False


def test_compaction_takes_the_build_lock(spark, index_dir):
    """A compaction that finds another writer's lock aborts before writing:
    it would otherwise pick the other writer's batch id and drop its
    commit at the state flip."""
    from elasticsearch_data_import_handler_spark.plans.build import compact_index

    with open(f"{index_dir}/_state/state.json", "rb") as f:
        before = f.read()
    with BuildLock(index_dir):
        with pytest.raises(RuntimeError, match="locked"):
            compact_index(spark, index_dir)
    with open(f"{index_dir}/_state/state.json", "rb") as f:
        assert f.read() == before


def _dead_pid() -> int:
    import subprocess
    import sys

    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def test_build_lock_stale_reclaim_admits_one_holder(tmp_path, monkeypatch):
    """Two contenders find a lock file left by a dead process.  Whatever
    one of them does to the file (here: the whole take-over of the other
    runs just before its first rename), exactly one of them holds the
    lock."""
    import os

    d = str(tmp_path)
    os.makedirs(f"{d}/_state")
    with open(f"{d}/_state/build.lock", "w") as f:
        f.write(str(_dead_pid()))
    a, b = BuildLock(d), BuildLock(d)
    real, got_a = os.rename, []

    def rename(*args):
        if not got_a:
            got_a.append(None)  # a's own take-over renames too: run it once
            got_a[0] = a.acquire()
        return real(*args)

    monkeypatch.setattr(os, "rename", rename)
    got_b = b.acquire()
    if not got_a:
        got_a.append(a.acquire())
    assert [got_a[0], got_b].count(True) == 1
    a.release()
    b.release()


def test_build_lock_freed_when_holder_dies(tmp_path):
    """A process that takes the lock and exits without releasing it
    (``os._exit``: no ``finally``, no atexit) leaves it acquirable."""
    import os
    import subprocess
    import sys

    d = str(tmp_path)
    code = ("import os, sys; from elasticsearch_data_import_handler_spark."
            "plans.state import BuildLock; "
            "assert BuildLock(sys.argv[1]).acquire(); os._exit(0)")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code, d], check=True, cwd=root)
    lock = BuildLock(d)
    assert lock.acquire()
    assert BuildLock(d).acquire() is False
    lock.release()
    assert lock.acquire()
    lock.release()


def test_partition_pruned_scan(spark, index_dir):
    """The postings scan for a query must touch only the term's bucket
    (partition pruning visible in the physical plan)."""
    reader = IndexReader(spark, index_dir)
    df = reader.postings_for_terms(["spark"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan  # partition filter present
    rows = df.collect()
    assert all(r["term"] == "spark" for r in rows)
    assert len({r["bucket"] for r in rows}) == 1


def test_positional_index_phrase_search(spark, tmp_path):
    """Index-backed match_phrase equals the corpus-side operator, across
    incremental batches with upserts (tombstoned versions excluded)."""
    from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        phrase_match, phrase_search_index)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_incremental, docs_versioned)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path / "posidx")
    b0 = synth_pages(spark, 300, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 300, seed=42, batches=2, batch=1)
    import elasticsearch_data_import_handler_spark.plans.build as B
    from elasticsearch_data_import_handler_spark.plans.state import BuildLock
    with BuildLock(d):
        B.commit_batch(spark, b0, d, 0, tau=100, n_buckets=4, positions=True)
        B.commit_batch(spark, b1, d, 1, tau=100, n_buckets=4)  # flag persists
    reader = IndexReader(spark, d)
    assert reader.state.has_positions
    got = {r["doc_id"]: r["n_occurrences"] for r in
           phrase_search_index(spark, reader, "the spark").collect()}
    # corpus-side truth on the latest version of every url
    pages = synth_pages(spark, 300, seed=42)
    docs = docs_versioned(dedup_latest(pages))
    exp = {r["doc_id"]: r["n_occurrences"] for r in
           phrase_match(docs.select("doc_id", "tokens")
                        .selectExpr("doc_id", "array_join(tokens, ' ') AS text"),
                        "the spark").collect()}
    assert got == exp and len(got) > 0
    # repeated-word phrase exercises the self-join shift path
    got2 = {r["doc_id"]: r["n_occurrences"] for r in
            phrase_search_index(spark, reader, "the the").collect()}
    exp2 = {r["doc_id"]: r["n_occurrences"] for r in
            phrase_match(docs.selectExpr("doc_id", "array_join(tokens, ' ') AS text"),
                         "the the").collect()}
    assert got2 == exp2 and len(got2) > 0


def test_compaction_preserves_positions(spark, tmp_path):
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        phrase_search_index)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, compact_index)
    from elasticsearch_data_import_handler_spark.plans.state import BuildLock
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages
    import elasticsearch_data_import_handler_spark.plans.build as B

    d = str(tmp_path / "posc")
    b0 = synth_pages(spark, 200, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 200, seed=42, batches=2, batch=1)
    with BuildLock(d):
        B.commit_batch(spark, b0, d, 0, tau=100, n_buckets=4, positions=True)
        B.commit_batch(spark, b1, d, 1, tau=100, n_buckets=4)
    before = {r["doc_id"]: r["n_occurrences"] for r in
              phrase_search_index(spark, IndexReader(spark, d),
                                  "the spark").collect()}
    compact_index(spark, d)
    after = {r["doc_id"]: r["n_occurrences"] for r in
             phrase_search_index(spark, IndexReader(spark, d),
                                 "the spark").collect()}
    assert before == after and len(after) > 0


def test_positions_flag_conflict_raises(spark, tmp_path):
    """positions=True on a later batch of an index built WITHOUT positions
    must raise (mirror of the analyzer conflict check) instead of silently
    writing an orphaned positions segment the reader can never use."""
    import elasticsearch_data_import_handler_spark.plans.build as B

    d = str(tmp_path / "posconf")
    b0 = synth_pages(spark, 100, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 100, seed=42, batches=2, batch=1)
    with BuildLock(d):
        B.commit_batch(spark, b0, d, 0, tau=100, n_buckets=4)
        with pytest.raises(ValueError, match="positions"):
            B.commit_batch(spark, b1, d, 1, tau=100, n_buckets=4,
                           positions=True)


def test_search_after_keyset_equals_rank_offset(spark):
    """Keyset pagination must return exactly ranks k+1..2k of the global
    order — the defining contract ES documents for search_after."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.scoring import (
        search_after)

    rows = [(1, 100 + i, float(50 - i // 3), 5) for i in range(30)]
    scored = spark.createDataFrame(rows, ["query_id", "doc_id", "score", "k"])
    # cursor = rank-5 hit under (score DESC, doc_id ASC)
    full = sorted(rows, key=lambda r: (-r[2], r[1]))
    cs, cid = full[4][2], full[4][1]
    cur = spark.createDataFrame([(1, cs, cid)], ["query_id", "cs", "cid"])
    got = [(r["doc_id"], r["rank"]) for r in
           search_after(scored, cur).orderBy("rank").collect()]
    want = [(r[1], i + 1) for i, r in enumerate(full[5:10])]
    assert got == want


def test_rescore_only_reorders_window(spark):
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        rescore_windows)

    hits = spark.createDataFrame(
        [(1, 1, 10, 3.0), (1, 2, 11, 2.0), (1, 3, 12, 1.0)],
        ["query_id", "rank", "doc_id", "score"])
    sec = spark.createDataFrame([(12, 5.0)], ["doc_id", "sec_score"])
    out = {r["doc_id"]: (r["rank"], r["score"]) for r in
           rescore_windows(hits, sec, rescore_query_weight=0.5).collect()}
    # doc 12: 1.0 + 2.5 = 3.5 → promoted to rank 1; same 3 docs, no growth
    assert out[12] == (1, 3.5) and out[10] == (2, 3.0) and out[11] == (3, 2.0)
    assert len(out) == 3


def test_gate_reader_cache_keyed_on_application(monkeypatch):
    """A session started after another stopped can reuse its id(); the gate
    reader cache must hand it a fresh reader, never one bound to the dead
    session — and must reuse the reader within one application."""
    from types import SimpleNamespace

    import __spark_entry__ as m
    import elasticsearch_data_import_handler_spark.plans.build as B

    monkeypatch.setattr(B, "IndexReader", lambda spark, d: object())
    monkeypatch.setattr(m, "_GATE_READERS", {})
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))
    first = m._gate_reader(spark, "idx")
    assert m._gate_reader(spark, "idx") is first
    spark.sparkContext.applicationId = "app-2"  # new session, same id()
    assert m._gate_reader(spark, "idx") is not first

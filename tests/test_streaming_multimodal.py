"""Structured Streaming ingest (AvailableNow → same commit path as batch) and
multimodal binary plumbing (Arrow batches, stubbed decode kernels)."""

import shutil

from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.multimodal import (
    extract_features,
    sample_frames,
    synth_media,
)
from elasticsearch_data_import_handler_spark.streaming.ingest import (
    stream_index_pages,
    windowed_event_counts,
)


def test_stream_index_equals_batch(spark, tmp_path):
    """Streaming the corpus directory through foreachBatch must produce a
    queryable index equal to the batch build on the same data."""
    from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    pages = synth_pages(spark, 200, seed=42)
    pages_dir = str(tmp_path / "pages_in")
    pages.coalesce(2).write.parquet(pages_dir)

    stream_dir = str(tmp_path / "stream_idx")
    q = stream_index_pages(spark, pages_dir, stream_dir,
                           str(tmp_path / "ckpt"), tau=100, n_buckets=4)
    q.awaitTermination(120)

    batch_dir = str(tmp_path / "batch_idx")
    build_index(spark, spark.read.parquet(pages_dir), batch_dir,
                tau=100, n_buckets=4)

    def topk(d):
        return {(r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 6))
                for r in bm25_topk_wand(spark, IndexReader(spark, d)).collect()}

    got, exp = topk(stream_dir), topk(batch_dir)
    assert set(got) == set(exp)
    for key in exp:
        assert got[key][0] == exp[key][0]
        assert abs(got[key][1] - exp[key][1]) <= 1e-6
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_stream_commit_takes_the_build_lock(spark, tmp_path):
    """A stream whose index is locked by another writer fails its first
    micro-batch and commits nothing."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from elasticsearch_data_import_handler_spark.plans.state import (
        BuildLock, read_state)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    pages_dir = str(tmp_path / "pages_in")
    synth_pages(spark, 20, seed=42).coalesce(1).write.parquet(pages_dir)
    idx = str(tmp_path / "idx")
    with BuildLock(idx):
        q = stream_index_pages(spark, pages_dir, idx, str(tmp_path / "ckpt"),
                               tau=100, n_buckets=2)
        with pytest.raises(StreamingQueryException, match="locked"):
            q.awaitTermination(120)
    assert read_state(idx) is None
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_windowed_event_counts_static(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = windowed_event_counts(ev, window="1 hour")
    rows = out.collect()
    assert len(rows) > 0
    assert sum(r["n"] for r in rows) == ev.count()


def test_multimodal_feature_plumbing(spark):
    media = synth_media(spark, n=48)
    feats = extract_features(media, deterministic_stub=True)
    rows = feats.collect()
    assert len(rows) == 48
    for r in rows:
        assert len(r["feature"]) == 16
        assert all(0.0 <= v < 1.0 for v in r["feature"])
    # determinism across runs
    again = {r["media_id"]: list(r["feature"]) for r in feats.collect()}
    for r in rows:
        assert list(r["feature"]) == again[r["media_id"]]


def test_multimodal_frame_sampling(spark):
    media = synth_media(spark, n=30)
    frames = sample_frames(media, every_ms=10_000)
    pdf = frames.toPandas()
    n_videos = media.filter("kind = 'video'").count()
    assert pdf["media_id"].nunique() == n_videos
    assert (pdf["frame_ms"] % 10_000 == 0).all()


def test_stateful_sessionize_stream_equals_batch(spark, tmp_path, sf_dir):
    """applyInPandasWithState sessionization over 2 time-ordered micro-batches
    must equal the batch window/lag sessionization (latest-wins per open
    session across batches — state carries sessions over the batch seam)."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.streaming.ingest import (
        sessionize_stream)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"))
    # two time-split files → per-user event-time order across micro-batches
    median = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first()["m"]
    src = str(tmp_path / "ev_stream")
    ev.filter(F.col("ts") <= median).coalesce(1).write.mode("overwrite") \
        .parquet(src)
    ev.filter(F.col("ts") > median).coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("user_id bigint, ts timestamp")
              .format("parquet").option("maxFilesPerTrigger", 1).load(src))
    out = sessionize_stream(stream, gap_sec=1800)
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    emitted = spark.table("sess_out")
    # latest-wins per (user, session_start): the open session emitted in
    # batch 1 is superseded by its extension in batch 2
    final = emitted.groupBy("user_id", "session_start").agg(
        F.max(F.struct("session_end", "n_events")).alias("v"))
    got = (final.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n_sessions"),
                F.sum("v.n_events").alias("n_events")))
    got_map = {r["user_id"]: (r["n_sessions"], r["n_events"])
               for r in got.collect()}

    import __spark_entry__ as entrymod
    exp = entrymod.q_sessionize(spark, sf_dir)
    exp_map = {r["user_id"]: (r["n_sessions"], r["n_events"])
               for r in exp.collect()}
    assert got_map == exp_map


def test_percolate_stream_equals_static(spark, tmp_path):
    """Streaming percolation (foreachBatch over AvailableNow micro-batches)
    must produce exactly the static-frame percolation matches, regardless
    of how documents split across batches."""
    from elasticsearch_data_import_handler_spark.operators.percolate import (
        query_term_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        PAGES_SCHEMA, synth_pages)
    from elasticsearch_data_import_handler_spark.streaming.ingest import (
        percolate_stream)

    pages = synth_pages(spark, 120, seed=7).withColumn(
        "doc_id", F.xxhash64("url"))
    queries = spark.createDataFrame(
        [("alert_spark", ["spark"], None, ["vector"], None),
         ("alert_pair", None, ["merge", "batch", "scan"], None, 2)],
        "query_id string, must array<string>, should array<string>, "
        "must_not array<string>, min_should int")
    qi = query_term_index(queries).cache()

    want = {(r["query_id"], r["doc_id"])
            for r in percolate_stream(pages, queries, qindex=qi).collect()}
    assert want  # fixture corpus must trigger both alert shapes

    pages_dir = str(tmp_path / "pages_in")
    pages.coalesce(4).write.parquet(pages_dir)
    got = set()
    stream = (spark.readStream
              .schema(spark.read.parquet(pages_dir).schema)
              .option("maxFilesPerTrigger", 1).format("parquet")
              .load(pages_dir))

    def _sink(batch_df, epoch_id):
        for r in percolate_stream(batch_df, queries, qindex=qi).collect():
            got.add((r["query_id"], r["doc_id"]))

    q = (stream.writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert got == want
    qi.unpersist()
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """dedup_stream over a rate-less file stream: re-delivered urls within
    the watermark horizon are dropped; batch path passes through a plain
    key dedup."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.streaming.ingest import (
        dedup_stream)

    rows = [("u1", "2026-01-01 00:00:00"), ("u1", "2026-01-01 00:00:05"),
            ("u2", "2026-01-01 00:00:07"), ("u2", "2026-01-01 00:00:09"),
            ("u3", "2026-01-01 00:01:00")]
    df = spark.createDataFrame(rows, "url string, ts string").select(
        "url", F.col("ts").cast("timestamp").alias("warc_ts"))
    src = str(tmp_path / "in")
    df.coalesce(1).write.parquet(src)

    stream = (spark.readStream.schema("url string, warc_ts timestamp")
              .parquet(src))
    out_rows = []

    def sink(batch_df, _eid):
        out_rows.extend(batch_df.collect())

    q = (dedup_stream(stream).writeStream.foreachBatch(sink)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.awaitTermination(120)
    assert sorted(r["url"] for r in out_rows) == ["u1", "u2", "u3"]

    # batch contract: same dedup, no state
    got = dedup_stream(df)
    assert got.count() == 3
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_trending_terms_stream_equals_batch(spark, tmp_path, sf_dir):
    """Windowed term counts over 2 micro-batches + per-window top-k in the
    sink must equal the same operators applied to the static frame."""
    from elasticsearch_data_import_handler_spark.streaming.ingest import (
        top_terms_batch, trending_terms)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type").alias("text"))
    median = ev.selectExpr("percentile_approx(ts, 0.5) AS m").first()["m"]
    src = str(tmp_path / "tt_stream")
    ev.filter(F.col("ts") <= median).coalesce(1).write.mode("overwrite") \
        .parquet(src)
    ev.filter(F.col("ts") > median).coalesce(1).write.mode("append") \
        .parquet(src)

    stream = (spark.readStream.schema("ts timestamp, text string")
              .format("parquet").option("maxFilesPerTrigger", 1).load(src))
    out = trending_terms(stream, window="1 hour", watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("tt_out")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    # update-mode emits per-batch revisions: latest count per key wins
    emitted = (spark.table("tt_out")
               .groupBy("window_start", "term").agg(F.max("n").alias("n")))
    got = {(r["window_start"], r["rank"], r["term"], r["n"])
           for r in top_terms_batch(emitted, k=3).collect()}
    want = {(r["window_start"], r["rank"], r["term"], r["n"])
            for r in top_terms_batch(
                trending_terms(ev, window="1 hour"), k=3).collect()}
    assert got == want and got

"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §1.1: incrementality = cron re-run
with {lastRun}).  This module is the engine's forward-looking stream path:

* :func:`stream_index_pages` — ``readStream`` over a pages directory with
  ``Trigger.AvailableNow`` + ``foreachBatch`` committing each micro-batch
  through the same ``commit_batch`` used by batch builds, so streaming and
  batch ingest share one code path, one state, one lineage table.
* :func:`windowed_event_counts` — watermarked tumbling-window aggregation
  (late-data tolerant) over an event stream, the standard analytics shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.corpus import PAGES_SCHEMA


def stream_index_pages(spark: SparkSession, pages_dir: str, index_dir: str,
                       checkpoint_dir: str, tau: int = 100_000,
                       n_buckets: int = 8):
    """Index every new pages file exactly once (AvailableNow drains what's
    present, then stops; re-run to pick up new files — the streaming analog
    of the reference's cron-driven incremental import).  Each micro-batch
    commits under the index's ``BuildLock``; a lock held elsewhere fails the
    batch, which stops the stream with nothing committed."""
    from ..plans.build import commit_batch
    from ..plans.state import BuildLock, read_state

    stream = (
        spark.readStream.schema(PAGES_SCHEMA).format("parquet")
        .option("maxFilesPerTrigger", 8)
        .load(pages_dir)
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        with BuildLock(index_dir):
            st = read_state(index_dir)
            batch_id = (st.last_indexed_batch + 1) if st else 0
            commit_batch(batch_df.sparkSession, batch_df, index_dir,
                         batch_id=batch_id, tau=tau, n_buckets=n_buckets)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def percolate_stream(docs: DataFrame, queries: DataFrame,
                     qindex: DataFrame | None = None,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Percolation over a document stream — the ES alerting shape: which
    registered queries does each arriving document satisfy?

    Works on a static frame or a stream (same logical plan): documents
    tokenize JVM-side (``jvm_tokens_col``), explode to distinct terms,
    and run through :func:`..operators.percolate.percolate`'s term-keyed
    join against the (small, broadcastable) inverted query index.  The
    plan is stateless — stream-static joins and the (query, doc)
    aggregation are per-micro-batch in append mode via foreachBatch, or
    attach a watermark upstream for update-mode sinks.  Build ``qindex``
    once with ``query_term_index(queries)`` and persist it; re-exploding
    per batch is correct but wasteful."""
    from ..functions.textanalysis import jvm_tokens_col
    from ..operators.percolate import percolate

    doc_terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(jvm_tokens_col(text_col))).alias("term"))
    return percolate(queries, doc_terms, qindex=qindex)


def windowed_event_counts(events: DataFrame, window: str = "5 minutes",
                          slide: str | None = None,
                          watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type — works on
    both a static frame and a stream (same logical plan)."""
    win = (F.window("ts", window, slide) if slide else F.window("ts", window))
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n",
                F.round("sum_value", 4).alias("sum_value"))
    )


SESSION_OUT_SCHEMA = ("user_id bigint, session_start bigint, "
                      "session_end bigint, n_events bigint")
SESSION_STATE_SCHEMA = "start bigint, last bigint, n bigint"


def sessionize_stream(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): gap-based
    sessionization with one state row per user.

    Semantics: a session is a maximal run of a user's events where
    consecutive gaps are ≤ gap_sec — identical to the batch window/lag form
    in __spark_entry__.q_sessionize (test-enforced: streamed micro-batches,
    latest-wins per (user, session_start), equals the batch result).

    Update-mode output: every session TOUCHED by a micro-batch is emitted
    with its current (end, n_events); the open session also stays in state
    so a later batch extends rather than restarts it.  Downstream consumers
    keep the latest row per (user_id, session_start) — the same
    dedup_latest shape as the engine's keyed sink (A9).

    Requires per-user event-time ordering across micro-batches (standard
    for replayed logs; with out-of-order sources put a watermarked
    sort-within-window in front).
    """
    ev = events.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts"),
    )

    def fn(key, pdfs, state):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        if state.exists:
            start, last, n = state.get
        else:
            start = None
            last = None
            n = 0
        touched = []
        for ts in rows["ts"].astype("int64"):
            ts = int(ts)
            if start is None:
                start, last, n = ts, ts, 1
            elif ts - last > gap_sec:
                touched.append((start, last, n))
                start, last, n = ts, ts, 1
            else:
                last, n = ts, n + 1
        touched.append((start, last, n))  # open session: emitted + kept
        state.update((start, last, n))
        yield pd.DataFrame({
            "user_id": [int(key[0])] * len(touched),
            "session_start": [t[0] for t in touched],
            "session_end": [t[1] for t in touched],
            "n_events": [t[2] for t in touched],
        })

    from pyspark.sql.streaming.state import GroupStateTimeout

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(pages: DataFrame, key_col: str = "url",
                 ts_col: str = "warc_ts",
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming ingest dedup — the ES "same _id wins once" semantics on
    a live feed: drop re-deliveries of the same ``key_col`` arriving
    within the watermark horizon, state auto-expired beyond it
    (``dropDuplicatesWithinWatermark``: bounded state, exactly the
    at-least-once → effectively-once trick for web-crawl re-fetches).

    Batch frames pass through ``dropDuplicates`` on the key (same
    contract, no state).  Use upstream of :func:`stream_index_pages` so a
    crawler retry never double-counts a page into df/tf; CROSS-horizon
    duplicates are the keyed sink's job (dedup_latest at commit), exactly
    how ES splits transport retries (versioning) from reindexing."""
    if not pages.isStreaming:
        return pages.dropDuplicates([key_col])
    return (pages.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark([key_col]))


def trending_terms(docs: DataFrame, window: str = "1 hour",
                   watermark: str = "2 hours", ts_col: str = "ts",
                   text_col: str = "text") -> DataFrame:
    """Streaming "trending terms": watermarked event-time windowed term
    counts over a document stream — (window_start, window_end, term, n).
    Works identically on a static frame (the stream-equals-batch test
    contract every operator in this module keeps).

    The top-k cut CANNOT chain onto a streaming aggregation (rank windows
    after a streaming groupBy are unsupported by design — results per
    window finalize only at watermark expiry), so ranking belongs in the
    sink: apply :func:`top_terms_batch` inside ``foreachBatch`` or over the
    memory-sink table.  Scale shape: explode → one windowed groupBy with
    map-side partials; state is bounded by watermark × vocabulary-per-
    window, and the term key is the shuffle key (no per-doc state)."""
    from ..functions.textanalysis import jvm_tokens_col

    terms = docs.select(
        F.col(ts_col).alias("ts"),
        F.explode(jvm_tokens_col(text_col, None)).alias("term"))
    if terms.isStreaming:
        terms = terms.withWatermark("ts", watermark)
    agg = (terms.groupBy(F.window("ts", window).alias("w"), "term")
           .agg(F.count(F.lit(1)).alias("n")))
    return agg.select(F.col("w.start").alias("window_start"),
                      F.col("w.end").alias("window_end"), "term",
                      F.col("n").cast("long").alias("n"))


def top_terms_batch(counts: DataFrame, k: int = 10) -> DataFrame:
    """Per-window top-k over a (window_start, …, term, n) counts frame —
    the foreachBatch / post-sink companion of :func:`trending_terms`
    (count DESC, term ASC ES tie order)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(F.desc("n"), F.asc("term"))
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= int(k)))

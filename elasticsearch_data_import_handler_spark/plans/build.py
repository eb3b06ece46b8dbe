"""Index build plan: full + incremental (segment model) with resume (C8–C10, C13).

Dataflow per batch (SURVEY.md §3.4):

  pages batch ──C1 dedup-within-batch (shuffle by url)──►
  upsert resolve vs committed doc_stats (join on url against the LATEST
    version per url; latest warc_ts wins; losers → tombstones — the
    reference's ES ``_id`` upsert semantics, A9)──►
  docs ──tokenize/xxhash64 (JVM, codegen)──►
  doc ordinals: dense_rank(doc_id) - 1 per salt (window, shuffle by salt)──►
  doc_stats/batch=K/__t=d/salt=S/  (doc rows + the ord → doc_id map)
  explode tokens ──repartition(term_id, salt), sort (term_id, salt, ord)──►
  mapInPandas encode──►
  postings/batch=K/bucket=J/  (one segment per batch, Lucene-style)

then: exact df corrections for tombstoned docs (distributed decode-explode
of prior segments pruned to the tombstones' salt shards, joined against the
tombstone frame — no driver materialization), an incremental lexicon
generation (prev gen ∪ batch postings meta ∪ batch corrections), state —
with the advanced corpus totals — committed (atomic rename), then the lineage
row appended.  Every artifact under ``batch=K`` is derived purely from the
committed state plus the batch input, so a crash before the state commit
leaves the batch invisible and an idempotent retry overwrites it.

Layout decisions, stated for the 100 TB case:

* **Uniform doc-hash sharding** (``salt = pmod(xxhash64(doc_id), S)``,
  S a power of two derived from corpus size / τ).  This subsumes per-term
  skew salting (SURVEY C7): a stopword's 10^11-posting list becomes S groups
  of ≤ ~τ postings — no ``applyInPandas`` group can exceed τ — while a df=1
  term still occupies exactly one row (empty shards never materialize).
  Crucially the shards are *doc-space aligned across terms*, so query-time
  WAND runs per (query, shard) with zero posting-list replication and a
  final k-way merge — the same document-sharded design as Lucene/ES shards.
* **Term-hash buckets** as a parquet partition column: queries prune to the
  buckets of their terms at scan time (partition pruning, no shuffle).
* **Segments**: a batch appends ``batch=K`` partitions; the scorer already
  concatenates multiple rows per (term, salt), so segments need no eager
  merge.  ``compact_index`` folds segments + tombstones back into one
  segment (the Lucene merge analog) when segment count grows.
* **doc_id = xxhash64(url || '|' || warc_ts)** — unique per crawl *version*
  so an upsert is append-new + tombstone-old, never in-place posting edits.
* **Dense per-segment doc ordinals** (Lucene's segment-local doc ids): a
  posting stores its doc as ``ord``, the doc_id's rank in its ``(batch,
  salt)`` segment, so the delta-coded doc stream is mostly 1-byte gaps
  instead of 8–9-byte hash gaps.  ``doc_stats/batch=K/__t=d/salt=S`` holds
  the segment's doc rows with their ``ord``; the decoders map ordinals
  back to doc_id through plans/docmap.py, so tombstones, positions and
  every scorer above the decoder keep working on doc_id.  ``_state``
  records the format version (plans/state.py); an index in another format
  is refused.
* **doc_stats** rows are ``(doc_id, url, warc_ts, doc_len, ord)`` under
  ``__t=d/salt=S``; tombstones are ``(doc_id, doc_len)`` under
  ``__t=t/salt=S`` of the batch that deleted them.
* **Crash-idempotent stats**: the corpus totals (``n_docs``, ``sum_dl``)
  live in ``_state/state.json`` and advance in the same atomic write that
  commits the batch, so a crash before it leaves the old totals and a
  retry recomputes from them.  The lexicon is generational
  (``lexicon/batch=K`` = full (term, df) snapshot built from the previous
  committed generation + this batch) — readers pick the max committed
  generation; idf is a read-time expression from the snapshot's totals.
* Exact-df deletes: the decode-explode is O(affected shards' doc_id streams)
  per batch.  At web scale you would amortize via compaction instead;
  both paths are implemented and the scan is salt-pruned.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.sqltext import col_isin
from ..functions.varbyte import (arrow_binary, decode_delta_runs,
                                 decode_doc_runs, varbyte_decode)
from ..operators.dedup import dedup_latest
from ..functions.textanalysis import jvm_tokens_col
from .docmap import DocMaps, ordinals_of, segment_maps
from .state import (
    BuildLock,
    IndexState,
    append_lineage,
    lineage_row,
    new_build_id,
    read_state,
    write_state,
)

# Block metadata as parallel primitive arrays (not array<struct>): Arrow
# hands these to the scorer UDF as numpy arrays with zero per-block Python.
POSTINGS_SCHEMA = (
    "term string, salt int, n_docs int, "
    "block_max_doc array<bigint>, block_max_tf array<int>, block_min_dl array<int>, "
    "off_d array<bigint>, off_t array<bigint>, off_l array<bigint>, "
    "doc_ids_vb binary, tfs_vb binary, dls_vb binary, bucket int"
)
_STREAMS = ("doc_ids_vb", "tfs_vb", "dls_vb")
# the postings columns a WAND scorer group reads (IndexReader.group_tables)
_GROUP_COLS = ["term", "salt", "n_docs", "block_max_tf", "block_min_dl",
               "off_d", "off_t", "off_l", *_STREAMS]


def _batch_dirs(index_dir: str, sub: str, committed: list[int]) -> list[str]:
    """Existing, non-empty batch partition dirs (an empty batch writes no
    data files — e.g. a re-import where every url was stale)."""
    out = []
    for b in committed:
        d = f"{index_dir}/{sub}/batch={b}"
        if os.path.isdir(d) and (glob.glob(f"{d}/*.parquet")
                                 or glob.glob(f"{d}/*/*.parquet")):
            out.append(d)
    return out


def _next_pow2(n: int) -> int:
    p = 1
    while p < n:
        p <<= 1
    return p


def _salt_col(s_shards: int):
    """The doc-hash shard of ``doc_id``: pmod(xxhash64(doc_id), S)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(s_shards)).cast("int")


def with_ordinals(docs: DataFrame, s_shards: int) -> DataFrame:
    """``docs`` plus ``salt`` and ``ord``, the doc's dense ordinal in its
    salt: ``dense_rank(doc_id) - 1``.  One window exchange on salt, with no
    driver collect; a salt holds ~τ docs by construction, so each window
    partition stays bounded."""
    from pyspark.sql import Window

    w = Window.partitionBy("salt").orderBy("doc_id")
    return (docs.withColumn("salt", _salt_col(s_shards))
            .withColumn("ord", (F.dense_rank().over(w) - 1).cast("int")))


def docs_versioned(pages: DataFrame, analyzer: dict | None = None) -> DataFrame:
    """pages → docs with version-unique doc_id = xxhash64(url || '|' || warc_ts).
    ``analyzer`` is the per-index analysis config (A8): token pattern,
    lowercasing, stopword list — see functions.textanalysis.jvm_tokens_col."""
    return pages.select(
        F.xxhash64(F.concat(F.col("url"), F.lit("|"),
                            F.col("warc_ts").cast("string"))).alias("doc_id"),
        "url",
        F.col("warc_ts"),
        jvm_tokens_col("text", analyzer).alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))


def _encode_stream_factory(n_buckets: int, with_tf: bool = False,
                           ord_of=None):
    """mapInPandas kernel over a partition sorted by (term_id, salt, ord).

    Streams Arrow batches, slicing complete (term_id, salt) groups with
    numpy boundary detection and carrying the trailing partial group into
    the next batch.  Compared to groupBy().applyInPandas() this never
    builds a pandas frame per group and never ships the term *string* per
    occurrence — only numeric columns cross the Arrow boundary, which is
    what makes the encode stage memory-bandwidth-light and scalable.

    ``with_tf=False``: input rows are token *occurrences* (term_id, salt,
    ord, doc_len); tf is derived by counting duplicate ordinals (build).
    ``with_tf=True``: input rows are *postings* (term_id, salt, doc_id, tf,
    doc_len) — already one row per doc (compaction re-encode); ``ord_of(salt,
    doc_id)`` gives their ordinals, which sort as the doc_ids do.
    """

    from ..functions.varbyte import encode_posting_batch

    def encode_stream(batches):
        carry = None  # tuple of column numpy arrays
        out: list[dict] = []

        def flush_groups(tid, salt, d, dl, tf, starts) -> None:
            """Vectorized encode of every COMPLETE group in one pass:
            postings derive from occurrences by run-length over the sorted
            doc_id stream (group-reset boundaries), then the whole batch
            encodes through one concatenated delta+varbyte pass with
            per-group byte slicing (encode_posting_batch — byte-identical
            to the former per-group encode_posting_list loop, which was
            ~10^5 small Python calls per task and the encode stage's
            dominant cost)."""
            if with_tf:
                d_p, tf_p, dl_p, gs_p = d, tf, dl, starts
            else:
                # run-length per (group, ord): d is sorted within each
                # group (shuffle sortWithinPartitions)
                g_occ = np.searchsorted(starts, np.arange(d.size),
                                        side="right") - 1
                is_ps = np.ones(d.size, dtype=bool)
                is_ps[1:] = (d[1:] != d[:-1]) | (g_occ[1:] != g_occ[:-1])
                ps = np.nonzero(is_ps)[0]
                d_p, dl_p = d[ps], dl[ps]
                tf_p = np.diff(np.concatenate((ps, [d.size])))
                gs_p = np.searchsorted(ps, starts)
            rows = encode_posting_batch(d_p, tf_p, dl_p, gs_p)
            tids = tid[starts]
            salts = salt[starts]
            for i, enc in enumerate(rows):
                t_i = int(tids[i])
                out.append({
                    "term_id": t_i, "salt": int(salts[i]),
                    "n_docs": enc["n_docs"],
                    "block_max_doc": enc["block_max_doc"],
                    "block_max_tf": enc["block_max_tf"],
                    "block_min_dl": enc["block_min_dl"],
                    "off_d": enc["off_d"], "off_t": enc["off_t"],
                    "off_l": enc["off_l"],
                    "doc_ids_vb": enc["doc_ids_vb"],
                    "tfs_vb": enc["tfs_vb"],
                    "dls_vb": enc["dls_vb"],
                    # Python % is non-negative for positive modulus (pmod)
                    "bucket": t_i % n_buckets,
                })

        for pdf in batches:
            tid = pdf["term_id"].to_numpy(np.int64)
            salt = pdf["salt"].to_numpy(np.int64)
            d = (ord_of(salt, pdf["doc_id"].to_numpy(np.int64)) if with_tf
                 else pdf["ord"].to_numpy(np.int64))
            dl = pdf["doc_len"].to_numpy(np.int64)
            tf = pdf["tf"].to_numpy(np.int64) if with_tf else None
            if carry is not None:
                tid = np.concatenate((carry[0], tid))
                salt = np.concatenate((carry[1], salt))
                d = np.concatenate((carry[2], d))
                dl = np.concatenate((carry[3], dl))
                if with_tf:
                    tf = np.concatenate((carry[4], tf))
            if tid.size == 0:
                continue
            # boundaries where (term_id, salt) changes
            change = np.nonzero((tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1]))[0] + 1
            starts = np.concatenate(([0], change))
            # last group may continue into the next Arrow batch → carry it
            if starts.size > 1:
                s = starts[-1]
                flush_groups(tid[:s], salt[:s], d[:s], dl[:s],
                             tf[:s] if with_tf else None, starts[:-1])
            else:
                s = 0
            carry = (tid[s:], salt[s:], d[s:], dl[s:]) + \
                ((tf[s:],) if with_tf else ())
        if carry is not None and carry[0].size:
            flush_groups(carry[0], carry[1], carry[2], carry[3],
                         carry[4] if with_tf else None,
                         np.array([0], dtype=np.int64))
        if out:
            yield pd.DataFrame(out)

    return encode_stream


POSTINGS_ENC_SCHEMA = POSTINGS_SCHEMA.replace("term string", "term_id bigint")


def build_postings(docs: DataFrame, s_shards: int, n_buckets: int,
                   shuffle_partitions: int | None = None) -> DataFrame:
    """docs(doc_id, tokens, doc_len[, salt, ord]) → postings frame (one row
    per term×salt).  Docs without ``ord`` get ordinals here
    (:func:`with_ordinals`); a commit assigns them once, before its doc_stats
    write, and passes them in.

    Single-shuffle plan: explode token occurrences keyed by numeric
    ``term_id = xxhash64(term)`` (strings never cross the Python boundary
    per occurrence — only per *distinct term* in the final tiny join),
    shuffle ONCE on (term_id, salt), sort within partitions by ordinal, and
    stream through the encode kernel.  bucket = pmod(term_id, n_buckets)
    matches the reader's pmod(xxhash64(term), n_buckets) partition pruning.

    64-bit term_id collision caveat: negligible at sandbox vocab sizes;
    at ~10^9 distinct terms pair it with a term-length tiebreak (documented,
    not needed here — a collision would merge two terms' postings).
    """
    if "ord" not in docs.columns:
        docs = with_ordinals(docs, s_shards)
    ex = docs.select(
        "salt", "ord", "doc_len", F.explode("tokens").alias("term")
    ).select(F.xxhash64("term").alias("term_id"), "salt", "ord", "doc_len")
    p = shuffle_partitions or ex.sparkSession.sparkContext.defaultParallelism
    part = (ex.repartition(p, "term_id", "salt")
            .sortWithinPartitions("term_id", "salt", "ord"))
    enc = part.mapInPandas(_encode_stream_factory(n_buckets),
                           schema=POSTINGS_ENC_SCHEMA)
    # term_id → term string restored on the ~|vocab|×S output rows only;
    # AQE picks broadcast when the distinct-term side is small (at 10^9-term
    # scale this becomes a co-keyed sort-merge join — still metadata-sized)
    terms = (docs.select(F.explode("tokens").alias("term")).distinct()
             .select("term", F.xxhash64("term").alias("term_id")))
    return enc.join(terms, "term_id").drop("term_id")


def _resolve_upserts(new_docs: DataFrame, existing: DataFrame | None):
    """Latest-wins per url across batches (A9 semantics).

    ``existing`` (committed doc_stats) may hold MULTIPLE versions per url —
    older ones already tombstoned.  Joining against all of them would
    multi-match a thrice-updated url (duplicated kept rows, double df
    decrements), so reduce to the single latest version per url first: the
    max (warc_ts, doc_id) struct is the only active version by construction
    (tombstones always point at strictly older warc_ts).

    Returns (kept_new_docs, tombstone_doc_ids_df).  Ties on warc_ts mean the
    same doc_id (identical version) → incoming row dropped (idempotent)."""
    if existing is None:
        return new_docs, None
    latest = existing.groupBy("url").agg(
        F.max(F.struct("warc_ts", "doc_id", "doc_len")).alias("v"))
    ex = latest.select("url",
                       F.col("v.warc_ts").alias("old_ts"),
                       F.col("v.doc_id").alias("old_doc_id"),
                       F.col("v.doc_len").alias("old_doc_len"))
    j = new_docs.join(ex, "url", "left")
    kept = (
        j.filter(F.col("old_ts").isNull() | (F.col("warc_ts") > F.col("old_ts")))
        .select(new_docs.columns)
    )
    tombs = (
        j.filter(F.col("old_ts").isNotNull() & (F.col("warc_ts") > F.col("old_ts")))
        .select(F.col("old_doc_id").alias("doc_id"),
                F.col("old_doc_len").alias("doc_len"))
        .distinct()
    )
    return kept, tombs


def _explode_postings(keep: tuple[str, ...], doc_maps,
                      doc_ids_only: bool = False):
    """mapInArrow kernel: posting rows (with ``batch``, ``salt``, ``n_docs``
    and the streams) → one row per posting, ``keep`` columns repeated beside
    the decoded ``doc_id`` and, unless ``doc_ids_only``, ``tf`` and
    ``doc_len``.  Each Arrow batch decodes in one pass: a batch's posting
    lists lie back to back in the binary columns' value buffers, so each
    stream is one call of the multi-run decoder, with ``n_docs`` marking
    where each list restarts, and the ordinals become doc_ids in one gather
    through the rows' segment maps (``doc_maps``, a plans.docmap.DocMaps)."""
    import pyarrow as pa

    def _stream(rb, c):
        offs, data = arrow_binary(rb.column(c))
        return data[offs[0]:offs[-1]]

    def _dec(batches):
        for rb in batches:
            n_docs = rb.column("n_docs").to_numpy().astype(np.int64)
            rows = pa.array(np.repeat(np.arange(rb.num_rows), n_docs))
            cols = {c: rb.column(c).take(rows) for c in keep}
            flat, base = segment_maps(doc_maps, rb.column("batch").to_numpy(),
                                      rb.column("salt").to_numpy())
            cols["doc_id"] = flat[np.repeat(base, n_docs) + decode_doc_runs(
                _stream(rb, "doc_ids_vb"), n_docs)]
            if not doc_ids_only:
                cols["tf"] = varbyte_decode(_stream(rb, "tfs_vb")).astype(np.int32)
                cols["doc_len"] = varbyte_decode(_stream(rb, "dls_vb")).astype(np.int32)
            yield pa.RecordBatch.from_pydict(cols)

    return _dec


def _decoded_doc_ids(post: DataFrame, index_dir: str) -> DataFrame:
    """postings rows of ``index_dir`` → exploded (term, doc_id) frame (doc
    stream only)."""
    return post.select("term", "batch", "salt", "n_docs", "doc_ids_vb").mapInArrow(
        _explode_postings(("term",), DocMaps(index_dir), doc_ids_only=True),
        schema="term string, doc_id long")


def _df_corrections_df(spark: SparkSession, index_dir: str, committed: list[int],
                       tombs: DataFrame, s_shards: int) -> DataFrame | None:
    """Exact per-term df decrements for tombstoned docs, fully distributed:
    decode-explode prior segments' doc streams (pruned to the tombstones'
    salt shards — a bounded ≤ s_shards driver list), join the tombstone
    frame, count hits per term.  No unbounded driver materialization."""
    dirs = _batch_dirs(index_dir, "postings", committed)
    if not dirs:
        return None
    salts = sorted(r["salt"] for r in tombs.select(
        _salt_col(s_shards).alias("salt")
    ).distinct().collect())  # bounded by s_shards
    if not salts:
        return None
    post = spark.read.option("basePath", f"{index_dir}/postings").parquet(*dirs) \
        .filter(col_isin("salt", salts))
    decoded = _decoded_doc_ids(post, index_dir)
    return (
        decoded.join(tombs.select("doc_id"), "doc_id")
        .groupBy("term").agg((-F.count(F.lit(1))).cast("long").alias("delta"))
    )


# ----------------------------------------------------------------- lexicon
# Generational snapshots: lexicon/batch=K holds the full (term, df) table as
# of batch K, built from the previous committed generation plus this batch's
# postings metadata and df corrections — O(vocab) per commit, independent of
# batch count.  Readers pick the max committed generation; idf is computed at
# read time from the snapshot's corpus totals (they shift every commit, df
# does not).

def _lexicon_gen_dir(index_dir: str, batch_id: int) -> str:
    return f"{index_dir}/lexicon/batch={batch_id}"


def _latest_lexicon_gen(index_dir: str, committed: list[int]) -> int | None:
    for b in sorted(committed, reverse=True):
        if glob.glob(f"{_lexicon_gen_dir(index_dir, b)}/*.parquet"):
            return b
    return None


# Below this many combined input rows (prev lexicon ∪ batch postings meta ∪
# corrections, counted from parquet FOOTERS — no data read) the new lexicon
# generation is summed driver-side with pyarrow instead of launching a Spark
# job.  Rationale: the lexicon write is part of the O(1) per-commit constant;
# a Spark job costs ~1 s of scheduling + shuffle regardless of cores, which
# is pure serial fraction under Amdahl at 2→8 scaling.  4M rows ≈ ~100 ms of
# pyarrow group-sum on the driver; a web-scale vocab (10^8+ terms) exceeds
# the threshold and takes the distributed path unchanged.
_LEXICON_DRIVER_MAX_ROWS = 4_000_000


def _write_lexicon_gen(spark: SparkSession, index_dir: str, batch_id: int,
                       committed_prev: list[int], corrections: bool) -> None:
    """lexicon/batch=K = prev committed gen ∪ batch=K postings meta ∪ batch=K
    corrections (``df_corrections/batch=K``, when ``corrections``),
    grouped-summed.  Derived purely from committed inputs + the
    deterministic batch recompute → overwrite-idempotent on retry.

    Data-sized dispatch: footer row counts decide between a driver-side
    pyarrow group-sum (metadata scale — eliminates one Spark job per commit)
    and the distributed groupBy (web-scale vocab)."""
    import pyarrow.dataset as _ds

    prev = _latest_lexicon_gen(index_dir, committed_prev)
    prev_dir = _lexicon_gen_dir(index_dir, prev) if prev is not None else None
    pdir = f"{index_dir}/postings/batch={batch_id}"
    has_postings = bool(glob.glob(f"{pdir}/*/*.parquet")
                        or glob.glob(f"{pdir}/*.parquet"))
    cdir = f"{index_dir}/df_corrections/batch={batch_id}" if corrections else None
    if prev_dir is None and not has_postings and cdir is None:
        return

    n_rows = 0
    try:
        if prev_dir is not None:
            n_rows += _ds.dataset(prev_dir, format="parquet").count_rows()
        if has_postings:
            n_rows += _ds.dataset(pdir, format="parquet",
                                  partitioning="hive").count_rows()
        if cdir is not None:
            n_rows += _ds.dataset(cdir, format="parquet").count_rows()
        driver_ok = n_rows <= _LEXICON_DRIVER_MAX_ROWS
    except Exception:
        driver_ok = False

    if driver_ok:
        _write_lexicon_gen_driver(index_dir, batch_id, prev_dir, pdir if
                                  has_postings else None, cdir)
        return

    parts = []
    if prev_dir is not None:
        parts.append(spark.read.parquet(prev_dir)
                     .select("term", F.col("df").alias("delta")))
    if has_postings:
        parts.append(spark.read.parquet(pdir)
                     .select("term", F.col("n_docs").cast("long").alias("delta")))
    if cdir is not None:
        parts.append(spark.read.parquet(cdir).select("term", "delta"))
    uni = parts[0]
    for p in parts[1:]:
        uni = uni.unionByName(p)
    lex = (uni.groupBy("term").agg(F.sum("delta").alias("df"))
           .filter(F.col("df") > 0))
    lex.write.mode("overwrite").parquet(_lexicon_gen_dir(index_dir, batch_id))


def _write_lexicon_gen_driver(index_dir: str, batch_id: int,
                              prev_dir: str | None, postings_dir: str | None,
                              corr_dir: str | None) -> None:
    """Driver-side lexicon generation: pyarrow column-pruned reads (term +
    one count column per source — postings payload blobs are never touched)
    → concat → group-sum → atomic single-file parquet write.  Exactly the
    distributed plan's semantics: integer sums, df > 0 filter."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as _ds
    import pyarrow.parquet as pq

    chunks = []
    if prev_dir is not None:
        t = _ds.dataset(prev_dir, format="parquet") \
            .to_table(columns=["term", "df"])
        chunks.append(pa.table({"term": t.column("term"),
                                "delta": t.column("df").cast(pa.int64())}))
    if postings_dir is not None:
        t = _ds.dataset(postings_dir, format="parquet", partitioning="hive") \
            .to_table(columns=["term", "n_docs"])
        chunks.append(pa.table({"term": t.column("term"),
                                "delta": t.column("n_docs").cast(pa.int64())}))
    if corr_dir is not None:
        t = _ds.dataset(corr_dir, format="parquet") \
            .to_table(columns=["term", "delta"])
        chunks.append(pa.table({"term": t.column("term"),
                                "delta": t.column("delta").cast(pa.int64())}))
    uni = pa.concat_tables(chunks)
    agg = uni.group_by("term").aggregate([("delta", "sum")])
    keep = pc.greater(agg.column("delta_sum"), 0)
    agg = agg.filter(keep)
    out = pa.table({"term": agg.column("term").cast(pa.string()),
                    "df": agg.column("delta_sum").cast(pa.int64())})
    gen_dir = _lexicon_gen_dir(index_dir, batch_id)
    shutil.rmtree(gen_dir, ignore_errors=True)
    os.makedirs(gen_dir, exist_ok=True)
    tmp = f"{gen_dir}/.part-00000.parquet.tmp"
    pq.write_table(out, tmp)
    os.replace(tmp, f"{gen_dir}/part-00000.parquet")


def _cleanup_stale_gens(index_dir: str, keep: int) -> None:
    """Best-effort removal of lexicon generations older than ``keep`` (safe
    after the state commit: readers only consult the max committed gen)."""
    import shutil

    for d in glob.glob(f"{index_dir}/lexicon/batch=*"):
        try:
            b = int(d.rsplit("=", 1)[1])
        except ValueError:
            continue
        if b < keep:
            shutil.rmtree(d, ignore_errors=True)


def _idf_expr(n_docs: int):
    return F.log(F.lit(1.0) + (F.lit(n_docs).cast("long") - F.col("df") + F.lit(0.5))
                 / (F.col("df") + F.lit(0.5)))


def _doc_stats_dirs(index_dir: str, committed: list[int], kind: str) -> list[str]:
    """The committed batches' ``doc_stats/batch=K/__t=<kind>`` dirs that hold
    rows: ``d`` doc rows, ``t`` tombstones (written in the same job as the
    doc rows — one action per commit).  Leaf dirs keep tombstone rows out of
    every doc_stats scan by partition pruning on path alone."""
    return [d for b in committed
            for d in [f"{index_dir}/doc_stats/batch={b}/__t={kind}"]
            if glob.glob(f"{d}/salt=*/*.parquet")]


def _read_doc_rows(spark: SparkSession, index_dir: str, committed: list[int],
                   kind: str) -> DataFrame | None:
    dirs = _doc_stats_dirs(index_dir, committed, kind)
    if not dirs:
        return None
    return spark.read.option("basePath", f"{index_dir}/doc_stats") \
        .parquet(*dirs)


def _read_tombstones(spark: SparkSession, index_dir: str, committed: list[int]):
    """Tombstoned doc_ids across committed batches."""
    t = _read_doc_rows(spark, index_dir, committed, "t")
    return None if t is None else t.select("doc_id").distinct()


def _read_doc_stats(spark: SparkSession, index_dir: str,
                    committed: list[int]) -> DataFrame | None:
    d = _read_doc_rows(spark, index_dir, committed, "d")
    return None if d is None else d.select("doc_id", "url", "warc_ts",
                                           "doc_len")


def build_positions(docs: DataFrame, n_buckets: int,
                    shuffle_partitions: int | None = None) -> DataFrame:
    """docs(doc_id, tokens) → positional postings: one row per (term, doc)
    with the sorted token-position list — the match_phrase index extension
    (ES stores positions in the same postings; a separate table keeps the
    BM25 format untouched and lets positions be optional per index).

    Rows carry ``term_id`` (the reader recomputes xxhash64(term) from query
    terms) and the same term-hash ``bucket`` partition column as the BM25
    postings, so phrase queries prune to their terms' buckets at scan time.

    The position list is stored delta+varbyte compressed (``pos_vb``
    binary, same codec family as the BM25 postings) — positions are the
    bulk of a positional index's bytes (Σ doc_len rows), and gap-coded
    token offsets are mostly 1-byte.  ``IndexReader.positions_for_terms``
    decodes AFTER bucket/term pruning, so the Python kernel only ever sees
    the query terms' rows."""
    ex = docs.select(
        "doc_id", F.posexplode("tokens").alias("pos", "term")
    ).select(F.xxhash64("term").alias("term_id"), "doc_id",
             F.col("pos").cast("int").alias("pos"))
    p = shuffle_partitions or ex.sparkSession.sparkContext.defaultParallelism
    # same kernel shape as the BM25 postings encode (_encode_stream_factory):
    # ONE shuffle on (term_id, doc_id), local Tungsten sort, then a streaming
    # boundary-detected encode over the CONCATENATED position stream — the
    # whole batch's deltas are varbyte'd in a single vectorized pass, and the
    # rows' binary column is that buffer under prefix-sum byte offsets
    # (encode_positions, one Arrow array per batch).  Positions are
    # Σ doc_len rows — the biggest table in the index — so no per-list
    # Python encode is allowed here (BASELINE.json input_hint mandate).
    srt = (ex.repartition(p, "term_id", "doc_id")
           .sortWithinPartitions("term_id", "doc_id", "pos"))

    def _enc(batches):
        carry = None
        for rb in batches:
            tid = rb.column("term_id").to_numpy()
            did = rb.column("doc_id").to_numpy()
            pos = rb.column("pos").to_numpy().astype(np.int64)
            if carry is not None:
                tid = np.concatenate((carry[0], tid))
                did = np.concatenate((carry[1], did))
                pos = np.concatenate((carry[2], pos))
            if tid.size == 0:
                continue
            change = np.nonzero((tid[1:] != tid[:-1])
                                | (did[1:] != did[:-1]))[0] + 1
            starts = np.concatenate(([0], change))
            # the last group may continue into the next Arrow batch → carry
            last = starts[-1]
            if starts.size > 1:
                yield encode_positions(tid, did, pos, starts[:-1], last)
            carry = (tid[last:], did[last:], pos[last:])
        if carry is not None and carry[0].size:
            yield encode_positions(carry[0], carry[1], carry[2],
                                   np.array([0], dtype=np.int64), carry[0].size)

    return (srt.mapInArrow(
        _enc, schema="term_id bigint, doc_id bigint, n_pos int, pos_vb binary")
        .withColumn("bucket",
                    F.pmod(F.col("term_id"), F.lit(n_buckets)).cast("int")))


def encode_positions(tid: np.ndarray, did: np.ndarray, pos: np.ndarray,
                     starts: np.ndarray, end: int):
    """One positional-postings row per group ``[starts[i], starts[i+1])`` of
    ``pos[:end]`` (the last group ends at ``end``), as an Arrow batch
    (term_id, doc_id, n_pos, pos_vb).  Each group is gap-coded (first value
    absolute) on the concatenated stream, varbyte-encoded once, and
    ``pos_vb`` is that one buffer under the groups' byte offsets — no
    per-row slice."""
    import pyarrow as pa

    from ..functions.varbyte import varbyte_encode, varbyte_nbytes

    seg = pos[:end].astype(np.uint64)
    deltas = seg.copy()
    deltas[1:] = seg[1:] - seg[:-1]
    deltas[starts] = seg[starts]
    nbytes = varbyte_nbytes(deltas)
    buf = varbyte_encode(deltas, nbytes)
    cum = np.concatenate(([0], np.cumsum(nbytes)))
    ends = np.concatenate((starts[1:], [end]))
    offs = cum[np.append(starts, end)].astype(np.int32)
    pos_vb = pa.Array.from_buffers(pa.binary(), starts.size,
                                   [None, pa.py_buffer(offs), pa.py_buffer(buf)])
    return pa.RecordBatch.from_arrays(
        [pa.array(tid[starts], pa.int64()), pa.array(did[starts], pa.int64()),
         pa.array((ends - starts).astype(np.int32)), pos_vb],
        ["term_id", "doc_id", "n_pos", "pos_vb"])


def _tombstone_rows(tombs: DataFrame, s_shards: int) -> DataFrame:
    """Tombstone rows (doc_id, doc_len) in doc_stats' row shape, ``__t=t``."""
    return tombs.select(
        "doc_id", F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"), "doc_len",
        F.lit(None).cast("int").alias("ord"), _salt_col(s_shards).alias("salt"),
        F.lit("t").alias("__t"))


def commit_batch(spark: SparkSession, pages_batch: DataFrame, index_dir: str,
                 batch_id: int, tau: int = 100_000, n_buckets: int = 8,
                 s_shards: int | None = None, attempt: int = 1,
                 dedup: bool = True, analyzer: dict | None = None,
                 positions: bool = False) -> dict:
    """Index one batch and commit it (data dirs → stats → state → lineage).

    ``analyzer`` (A8 settings surface): honored on the index's FIRST batch
    and persisted in state; later batches always use the persisted analyzer
    (a conflicting override raises — an index has one analysis chain).
    ``positions=True`` additionally writes the positional postings table
    (phrase queries); persisted in state like the analyzer."""
    from pyspark.sql import Observation

    t0 = time.time()
    st = read_state(index_dir) or IndexState(n_buckets=n_buckets,
                                             build_id=new_build_id())
    if batch_id in st.committed_batches:
        return {"skipped": True, "batch_id": batch_id}
    committed = list(st.committed_batches)
    if committed:
        if analyzer is not None and analyzer != st.analyzer:
            raise ValueError(
                f"index {index_dir} was built with analyzer {st.analyzer}; "
                "an index has one analysis chain — rebuild to change it")
        analyzer = st.analyzer or None
        if positions and not st.has_positions:
            # mirror the analyzer conflict check: silently half-honoring the
            # flag would write an orphaned positions/batch=K segment that
            # phrase_search (gated on state.has_positions) can never use
            raise ValueError(
                f"index {index_dir} was built without positions=True; "
                "an index has one positions setting — rebuild to change it")
        positions = st.has_positions
    else:
        st.analyzer = analyzer or {}
        st.has_positions = bool(positions)

    if dedup:
        # project BEFORE the dedup window's exchange (guide §2.3): the
        # downstream only needs (url, warc_ts, text), and the html payload
        # — the fattest column — is only ever hashed for the tie-break, so
        # shuffle the 8-byte hash instead of the bytes (same winner rows:
        # desc(xxhash64(html)) ≡ desc(__tb))
        if "html" in pages_batch.columns:
            proj = pages_batch.select(
                "url", "warc_ts", "text",
                F.xxhash64("html").alias("__tb"))
            b = dedup_latest(proj, tie_cols=["__tb"]).drop("__tb")
        else:
            b = dedup_latest(pages_batch)
    else:
        b = pages_batch
    docs = docs_versioned(b, analyzer)
    existing = None
    if committed:
        existing = _read_doc_stats(spark, index_dir, committed)
    kept, tombs = _resolve_upserts(docs, existing)
    if s_shards is None:
        # the first batch sizes the doc-hash shards from its doc count; the
        # ordinals need S before anything is written (a column-pruned count:
        # the dedup shuffle without the tokenizer)
        s_shards = st.s_shards if committed else \
            _next_pow2(max(1, -(-kept.count() // tau)))
    kept = with_ordinals(kept, s_shards).persist()

    # ONE job writes BOTH doc rows and tombstones (partitions __t=d / __t=t
    # of the same dataset) while observing all four scalars in-flight — the
    # round-2 layout spent a second action (+ full plan recompute) on the
    # tombstone write; folding it shaves the per-commit Amdahl constant and
    # the Observation API keeps corpus stats at zero extra passes
    timings: dict[str, float] = {}
    t_phase = time.time()
    obs = Observation(f"docstats_b{batch_id}")
    out_rows = kept.select("doc_id", "url", "warc_ts", "doc_len", "ord",
                           "salt", F.lit("d").alias("__t"))
    if tombs is not None:
        out_rows = out_rows.unionByName(_tombstone_rows(tombs, s_shards))
    (out_rows
     .observe(obs,
              F.coalesce(F.sum(F.when(F.col("__t") == "d", 1)),
                         F.lit(0)).alias("n_docs"),
              F.coalesce(F.sum(F.when(F.col("__t") == "d", F.col("doc_len"))),
                         F.lit(0)).alias("sum_dl"),
              F.coalesce(F.sum(F.when(F.col("__t") == "t", 1)),
                         F.lit(0)).alias("n_tombs"),
              F.coalesce(F.sum(F.when(F.col("__t") == "t", F.col("doc_len"))),
                         F.lit(0)).alias("tomb_dl"))
     .write.mode("overwrite").partitionBy("__t", "salt")
     .parquet(f"{index_dir}/doc_stats/batch={batch_id}"))
    observed = obs.get
    timings["doc_stats"] = round(time.time() - t_phase, 2)
    n_docs = int(observed["n_docs"])
    sum_dl_new = int(observed["sum_dl"])
    if n_docs == 0:
        # nothing new (e.g. idempotent re-import of an already-indexed window);
        # kept empty ⇒ tombs empty (a tombstoning row is always also kept)
        kept.unpersist()
        wall_ms = int((time.time() - t0) * 1000)
        st.committed_batches = committed + [batch_id]
        st.last_indexed_batch = max(st.last_indexed_batch, batch_id)
        write_state(index_dir, st)
        append_lineage(index_dir, [lineage_row(st.build_id or new_build_id(),
                                               batch_id, "done", 0, 0, wall_ms,
                                               attempt)])
        return {"n_docs": 0, "n_posting_rows": 0, "wall_ms": wall_ms,
                "s_shards": st.s_shards, "batch_id": batch_id, "n_tombstones": 0}

    # tombstone counts came out of the same Observation — no second action
    n_tombs = int(observed["n_tombs"])
    tomb_dl = int(observed["tomb_dl"])
    t_phase = time.time()
    # Size the encode shuffle from the DATA, not the core count: sum_dl is
    # the exact occurrence count (already observed during the doc_stats
    # write), ~48 B/occurrence in the shuffle — cap partitions at ~128 MB so
    # the per-partition sort never spills (measured: a 2× corpus at fixed
    # partition count went 2.5-3× slower; data-sized partitions restore
    # linear scaling).  This is the local-mode analog of
    # spark.sql.files.maxPartitionBytes-driven sizing on a cluster.
    occ_bytes = sum_dl_new * 48
    dp = spark.sparkContext.defaultParallelism
    # tiny-input floor (guide §6): below ~16 MB/partition the dp floor only
    # fragments the output — a 5k-doc index came out as ~240 files whose
    # listing/open overhead dominated every query-time scan.  Small builds
    # get partitions sized to the data; once the input justifies ≥ dp
    # partitions the sizing (and the written layout) is exactly as before.
    p_enc = max(min(dp, occ_bytes // (16 << 20) + 1),
                occ_bytes // (128 << 20) + 1)
    if p_enc >= dp:
        # round UP to a full multiple of the slot count: wave quantization
        # is a scaling killer, not a nicety — 11 partitions on 8 slots is 2
        # waves with the second wave 5/8 idle (measured: the encode stage
        # scaled 2.08× going 2→8 cores until this line; partitions-as-
        # k×slots is the standard cluster sizing rule, costs nothing at
        # any scale)
        p_enc = ((p_enc + dp - 1) // dp) * dp
    postings = build_postings(kept, s_shards, n_buckets,
                              shuffle_partitions=int(p_enc))
    if positions:
        build_positions(kept, n_buckets, shuffle_partitions=int(p_enc)) \
            .write.mode("overwrite").partitionBy("bucket").parquet(
                f"{index_dir}/positions/batch={batch_id}")
    postings.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/postings/batch={batch_id}")
    timings["postings"] = round(time.time() - t_phase, 2)
    t_phase = time.time()
    # row count from parquet footers (driver-side metadata, no Spark job)
    import pyarrow.dataset as _ds
    n_posting_rows = _ds.dataset(
        f"{index_dir}/postings/batch={batch_id}", format="parquet",
        partitioning="hive").count_rows()
    timings["footer_count"] = round(time.time() - t_phase, 2)

    t_phase = time.time()
    corr = None
    if n_tombs:
        # read the tombstones just materialized by the folded write — a
        # vocab-free leaf-dir scan, instead of recomputing the upsert join
        tombs_mat = spark.read.parquet(
            f"{index_dir}/doc_stats/batch={batch_id}/__t=t") \
            .select("doc_id", "doc_len")
        corr = _df_corrections_df(spark, index_dir, committed, tombs_mat,
                                  s_shards)
        if corr is not None:
            corr.write.mode("overwrite").parquet(
                f"{index_dir}/df_corrections/batch={batch_id}")

    timings["df_corrections"] = round(time.time() - t_phase, 2)
    t_phase = time.time()
    _write_lexicon_gen(spark, index_dir, batch_id, committed, corr is not None)
    timings["stats_lexicon"] = round(time.time() - t_phase, 2)
    kept.unpersist()

    wall_ms = int((time.time() - t0) * 1000)
    st.committed_batches = committed + [batch_id]
    st.last_indexed_batch = max(st.last_indexed_batch, batch_id)
    st.s_shards = s_shards
    st.n_buckets = n_buckets
    st.n_docs += n_docs - n_tombs
    st.sum_dl += sum_dl_new - tomb_dl
    write_state(index_dir, st)
    # lineage records committed batches only: a commit that dies before the
    # state write leaves no row, and its retry writes the one row
    append_lineage(index_dir, [lineage_row(st.build_id or new_build_id(), batch_id,
                                           "done", n_docs, n_posting_rows, wall_ms,
                                           attempt)])
    # best-effort: drop lexicon generations older than the previous one
    # (kept so an in-flight reader of gen K-1 doesn't lose its files mid-scan)
    prev = _latest_lexicon_gen(index_dir, committed)
    if prev is not None:
        _cleanup_stale_gens(index_dir, prev)
    return {"n_docs": n_docs, "n_posting_rows": n_posting_rows,
            "wall_ms": wall_ms, "s_shards": s_shards, "batch_id": batch_id,
            "n_tombstones": n_tombs, "timings": timings}


def build_index(spark: SparkSession, pages: DataFrame, index_dir: str,
                tau: int = 100_000, n_buckets: int = 8, dedup: bool = True,
                analyzer: dict | None = None, positions: bool = False) -> dict:
    """Full (single-batch) build — the batch-0 special case."""
    with BuildLock(index_dir):
        return commit_batch(spark, pages, index_dir, batch_id=0, tau=tau,
                            n_buckets=n_buckets, dedup=dedup,
                            analyzer=analyzer, positions=positions)


def build_incremental(spark: SparkSession, batches: list[DataFrame], index_dir: str,
                      tau: int = 100_000, n_buckets: int = 8,
                      analyzer: dict | None = None) -> list[dict]:
    """Index a sequence of snapshot batches with resume: committed batches are
    skipped (reference A5–A7: state advances only on success; re-runs are
    idempotent)."""
    out = []
    with BuildLock(index_dir):
        for i, batch in enumerate(batches):
            out.append(commit_batch(spark, batch, index_dir, batch_id=i,
                                    tau=tau, n_buckets=n_buckets,
                                    analyzer=analyzer))
    return out


def reindex(spark: SparkSession, src_index: str, pages: DataFrame,
            dst_index: str, tau: int = 100_000, n_buckets: int = 8,
            analyzer: dict | None = None, positions: bool = False,
            dedup: bool = True) -> dict:
    """ES ``_reindex``: rebuild a NEW index from the source index's ACTIVE
    document set — deleted and superseded versions excluded — under new
    settings.  This is the only way to change an analyzer or the positions
    setting (``commit_batch`` deliberately raises on conflicts: an index
    has one analysis chain), and composes with the alias catalog for the
    standard ES zero-downtime migration: reindex → flip alias.

    Like ES (which reads ``_source``), document text lives outside the
    inverted index: ``pages`` is the source-of-truth frame; it is
    semi-joined to the source's active urls (doc_stats ⊖ tombstones — an
    O(active) column-pruned scan, no postings decode) and built into
    ``dst_index`` through the standard full-build path."""
    reader = IndexReader(spark, src_index)
    active = reader.live(reader.doc_stats().select("doc_id", "url")) \
        .select("url").distinct()
    return build_index(spark, pages.join(active, "url", "semi"), dst_index,
                       tau=tau, n_buckets=n_buckets, dedup=dedup,
                       analyzer=analyzer, positions=positions)


def update_by_query(spark: SparkSession, index_dir: str, pages: DataFrame,
                    transform, must=None, should=None, must_not=None,
                    min_should: int = 0, tau: int = 100_000,
                    text_col: str = "text") -> dict:
    """ES ``_update_by_query``: re-index every ACTIVE document matching a
    bool query with ``transform`` (a Column → Column expression over the
    source ``text_col`` — the painless-script analog) applied, committed as
    ONE regular upsert batch: the new versions append, the standard upsert
    path tombstones the old versions by url, df corrections / lexicon
    generation / lineage / state with its corpus totals all flow through the
    same crash-safe commit protocol as any ingest batch.

    Like ES (which requires ``_source``), the raw document source lives
    outside the inverted index — ``pages`` is the source-of-truth frame
    (url, warc_ts, ``text_col``) the import pipeline reads from;
    ``text_col`` defaults to the column ``docs_versioned`` analyzes (a
    transform on any other column would never reach the index).  Only the
    matched urls are read, transformed, and re-committed
    (O(matches), never a corpus re-index).  ``warc_ts`` is bumped by one
    second so latest-wins keyed dedup deterministically prefers the updated
    version over the original in the same or any later batch."""
    from ..operators.textsearch import bool_query

    t0 = time.time()
    with BuildLock(index_dir):
        st = read_state(index_dir)
        if st is None or not st.committed_batches:
            raise ValueError(f"no committed index at {index_dir}")
        reader = IndexReader(spark, index_dir)
        victims = bool_query(spark, reader, must=must, should=should,
                             must_not=must_not,
                             min_should=min_should).select("doc_id")
        urls = victims.join(reader.doc_stats().select("doc_id", "url"),
                            "doc_id").select("url")
        upd = (pages.join(urls, "url", "semi")
               .withColumn(text_col, transform(F.col(text_col)))
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("INTERVAL 1 SECOND")))
        if upd.limit(1).count() == 0:
            return {"n_updated": 0, "batch_id": None,
                    "wall_ms": int((time.time() - t0) * 1000)}
        batch_id = st.last_indexed_batch + 1
        res = commit_batch(spark, upd, index_dir, batch_id=batch_id,
                           tau=tau, n_buckets=st.n_buckets,
                           s_shards=st.s_shards,
                           positions=st.has_positions)
        res["n_updated"] = res.get("n_docs", None)
        res["wall_ms"] = int((time.time() - t0) * 1000)
        return res


def delete_by_query(spark: SparkSession, index_dir: str, must=None,
                    should=None, must_not=None, min_should: int = 0) -> dict:
    """ES ``_delete_by_query``: tombstone every ACTIVE document matching a
    bool query — the LSM delete this index format is built around (build
    docstring: "an upsert is append-new + tombstone-old, never in-place
    posting edits").  No posting is rewritten; queries exclude the victims
    as soon as the batch commits — TAAT scorers through
    ``IndexReader.live``, the WAND scorer through the per-salt tombstones it
    reads beside the doc maps (plans/docmap.py) — and :func:`compact_index`
    reclaims the bytes later, exactly like ES's delete + forcemerge.

    Commits as a regular batch so every invariant holds downstream:
    tombstones land in ``doc_stats/batch=K/__t=t`` (one job, Observation
    counts), exact per-term df decrements via the same salt-pruned
    decode-explode as upsert tombstones, a new lexicon generation, the state
    flip (with the decremented corpus totals), then the lineage row.  Crash-safe
    for the same reason commits are: every artifact is overwrite-idempotent
    under the batch id and readers are gated on committed state.

    Cost: O(Σ df of the query terms) to find victims + O(victim-shards'
    postings) for the df corrections — never a corpus scan."""
    from pyspark.sql import Observation

    from ..operators.textsearch import bool_query

    t0 = time.time()
    with BuildLock(index_dir):
        st = read_state(index_dir)
        if st is None or not st.committed_batches:
            raise ValueError(f"no committed index at {index_dir}")
        committed = list(st.committed_batches)
        batch_id = st.last_indexed_batch + 1
        reader = IndexReader(spark, index_dir)
        victims = bool_query(spark, reader, must=must, should=should,
                             must_not=must_not,
                             min_should=min_should).select("doc_id")
        ds = _read_doc_stats(spark, index_dir, committed) \
            .select("doc_id", "doc_len")
        tombs = victims.join(ds, "doc_id")

        obs = Observation(f"delete_b{batch_id}")
        (_tombstone_rows(tombs, st.s_shards)
         .observe(obs,
                  F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("n_tombs"),
                  F.coalesce(F.sum("doc_len"), F.lit(0)).alias("tomb_dl"))
         .write.mode("overwrite").partitionBy("__t", "salt")
         .parquet(f"{index_dir}/doc_stats/batch={batch_id}"))
        n_tombs = int(obs.get["n_tombs"])
        tomb_dl = int(obs.get["tomb_dl"])
        if n_tombs == 0:
            import shutil

            shutil.rmtree(f"{index_dir}/doc_stats/batch={batch_id}",
                          ignore_errors=True)
            return {"n_tombstones": 0, "batch_id": None,
                    "wall_ms": int((time.time() - t0) * 1000)}

        tombs_mat = spark.read.parquet(
            f"{index_dir}/doc_stats/batch={batch_id}/__t=t") \
            .select("doc_id", "doc_len")
        corr = _df_corrections_df(spark, index_dir, committed, tombs_mat,
                                  st.s_shards)
        if corr is not None:
            corr.write.mode("overwrite").parquet(
                f"{index_dir}/df_corrections/batch={batch_id}")
        _write_lexicon_gen(spark, index_dir, batch_id, committed,
                           corr is not None)

        wall_ms = int((time.time() - t0) * 1000)
        st.committed_batches = committed + [batch_id]
        st.last_indexed_batch = batch_id
        st.n_docs -= n_tombs
        st.sum_dl -= tomb_dl
        write_state(index_dir, st)
        append_lineage(index_dir, [lineage_row(st.build_id, batch_id,
                                               "delete", 0, 0, wall_ms, 1)])
        prev = _latest_lexicon_gen(index_dir, committed)
        if prev is not None:
            _cleanup_stale_gens(index_dir, prev)
        return {"n_tombstones": n_tombs, "batch_id": batch_id,
                "wall_ms": wall_ms}


def compact_index(spark: SparkSession, index_dir: str) -> dict:
    """Fold all segments + tombstones into a single new-generation segment
    (the Lucene merge analog).  Exact and fully distributed: the active docs
    get new ordinals and a new doc map (written first), then every posting
    is decoded to its doc_id, tombstones are anti-joined, and the postings
    are re-encoded with the new ordinals through the same single-shuffle
    streaming kernel as the build.

    Crash-safe commit protocol: the compacted segment is written under a NEW
    batch id (max committed + 1); the state flip to ``committed=[NEW]`` is
    the single atomic commit point.  A crash before it leaves the old
    generation fully readable (the NEW dirs are invisible — not committed —
    and a retry overwrites them); a crash after it leaves stray old dirs
    that readers ignore (every read is committed-gated) and that the cleanup
    pass below or a later compaction removes.  It holds the index's
    ``BuildLock`` throughout: a commit or delete that picked the same batch
    id while it ran would otherwise be overwritten and dropped by the flip."""
    import shutil

    with BuildLock(index_dir):
        st = read_state(index_dir)
        if st is None:
            raise FileNotFoundError(index_dir)
        committed = st.committed_batches
        new_b = max(committed) + 1
        tomb = _read_tombstones(spark, index_dir, committed)
        ds = _read_doc_stats(spark, index_dir, committed)
        active = ds.join(tomb, "doc_id", "left_anti") if tomb is not None else ds

        # the new segment's doc rows and ord → doc_id map, before the postings
        # whose encode reads the map
        from pyspark.sql import Observation
        obs = Observation(f"compact_b{new_b}")
        (with_ordinals(active, st.s_shards)
         .select("doc_id", "url", "warc_ts", "doc_len", "ord", "salt",
                 F.lit("d").alias("__t"))
         .observe(obs, F.count(F.lit(1)).alias("n_docs"),
                  F.coalesce(F.sum("doc_len"), F.lit(0)).alias("sum_dl"))
         .write.mode("overwrite").partitionBy("__t", "salt")
         .parquet(f"{index_dir}/doc_stats/batch={new_b}"))
        n_active = int(obs.get["n_docs"])
        sum_active = int(obs.get["sum_dl"])

        post = spark.read.option("basePath", f"{index_dir}/postings").parquet(
            *_batch_dirs(index_dir, "postings", committed))
        doc_maps = DocMaps(index_dir)

        decoded = post.select("term", "batch", "salt", "n_docs", *_STREAMS) \
            .mapInArrow(_explode_postings(("term", "salt"), doc_maps),
                        schema="term string, salt int, doc_id bigint, tf int, "
                               "doc_len int") \
            .select(F.xxhash64("term").alias("term_id"), "salt", "doc_id", "tf",
                    "doc_len")
        if tomb is not None:
            decoded = decoded.join(tomb, "doc_id", "left_anti")
        # Size the re-encode shuffle from the DATA, not the core count — the
        # same ~48 B/occurrence rule as commit_batch: compaction folds the WHOLE
        # index, so a core-count partition count is the first thing to spill at
        # scale.  The doc_stats write above observed the active occurrence
        # total.
        dp = spark.sparkContext.defaultParallelism
        p = max(dp, sum_active * 48 // (128 << 20) + 1)
        # full final wave (same quantization rule as commit_batch's p_enc)
        p = ((p + dp - 1) // dp) * dp
        part = (decoded.repartition(p, "term_id", "salt")
                .sortWithinPartitions("term_id", "salt", "doc_id"))
        enc = part.mapInPandas(
            _encode_stream_factory(
                st.n_buckets, with_tf=True,
                ord_of=lambda salt, d: ordinals_of(doc_maps, new_b, salt, d)),
            schema=POSTINGS_ENC_SCHEMA)
        terms = post.select("term").distinct().select(
            "term", F.xxhash64("term").alias("term_id"))
        merged = enc.join(terms, "term_id").drop("term_id")

        # positional postings fold into the new generation too: concat batch
        # segments, drop tombstoned docs, rewrite (rows are already unique per
        # (term, doc) across segments — a doc version lives in one batch)
        if st.has_positions:
            pdirs = _batch_dirs(index_dir, "positions", committed)
            if pdirs:
                posd = spark.read.option(
                    "basePath", f"{index_dir}/positions").parquet(*pdirs) \
                    .select("term_id", "doc_id", "n_pos", "pos_vb", "bucket")
                if tomb is not None:
                    posd = posd.join(tomb, "doc_id", "left_anti")
                posd.write.mode("overwrite").partitionBy("bucket").parquet(
                    f"{index_dir}/positions/batch={new_b}")

        # materialize the new generation's postings before the state flip
        merged.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{index_dir}/postings/batch={new_b}")
        # post-compaction lexicon = segment metadata sums (no corrections left)
        _write_lexicon_gen(spark, index_dir, new_b, [], False)

        # --- atomic commit point ---
        st.committed_batches = [new_b]
        st.last_indexed_batch = new_b
        st.n_docs, st.sum_dl = n_active, sum_active
        write_state(index_dir, st)

        # cleanup (crash-tolerant: everything below is invisible to readers)
        for b in committed:
            shutil.rmtree(f"{index_dir}/postings/batch={b}", ignore_errors=True)
            shutil.rmtree(f"{index_dir}/doc_stats/batch={b}", ignore_errors=True)
            shutil.rmtree(f"{index_dir}/positions/batch={b}", ignore_errors=True)
        shutil.rmtree(f"{index_dir}/df_corrections", ignore_errors=True)
        _cleanup_stale_gens(index_dir, new_b)
        import pyarrow.dataset as _ds
        return {"n_posting_rows": _ds.dataset(
            f"{index_dir}/postings/batch={new_b}", format="parquet",
            partitioning="hive").count_rows(), "batch_id": new_b}


class IndexReader:
    """Query-side handle: partition-pruned postings scan + broadcast lexicon.
    Only committed batches are visible (uncommitted partial writes invisible).

    A reader is a handle onto ONE committed snapshot (state read at
    construction), so every derived DataFrame is immutable for the reader's
    lifetime — they are built once and memoized (guide §1: the per-query
    constant was dominated by re-constructing identical scans and
    re-materializing the 1-row corpus-stats frame on every operator call).
    The corpus totals are the state's own.  Writers commit through new
    readers, unaffected."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        st = read_state(index_dir)
        if st is None:
            raise FileNotFoundError(f"no committed index at {index_dir}")
        self.state = st
        self._memo: dict = {}

    @property
    def doc_maps(self) -> DocMaps:
        """The snapshot's segment doc maps and tombstones (plans/docmap.py):
        the committed batches that hold tombstones are listed once."""
        if "doc_maps" not in self._memo:
            self._memo["doc_maps"] = DocMaps(self.index_dir, [
                b for b in self.state.committed_batches
                if _doc_stats_dirs(self.index_dir, [b], "t")])
        return self._memo["doc_maps"]

    def avgdl_value(self) -> float:
        """The corpus avgdl as a driver-side float (``sum_dl / n_docs`` of
        the snapshot's state, 0.0 on an empty corpus), usable as a literal
        column instead of a 1-row crossJoin."""
        n_docs, sum_dl = self.state.n_docs, self.state.sum_dl
        return (sum_dl / n_docs) if n_docs else 0.0

    def lexicon(self) -> DataFrame:
        """(term, df, idf) — df from the max committed lexicon generation,
        idf computed here from the snapshot's corpus totals."""
        if "lexicon" not in self._memo:
            self._memo["lexicon"] = (
                self.spark.read.parquet(self._lexicon_dir())
                .select("term", "df",
                        _idf_expr(self.state.n_docs).alias("idf")))
        return self._memo["lexicon"]

    def _lexicon_dir(self) -> str:
        """The snapshot's lexicon generation: the max committed one."""
        gen = _latest_lexicon_gen(self.index_dir, self.state.committed_batches)
        if gen is None:
            raise FileNotFoundError(f"no lexicon generation in {self.index_dir}")
        return _lexicon_gen_dir(self.index_dir, gen)

    def doc_stats(self) -> DataFrame:
        if "doc_stats" not in self._memo:
            self._memo["doc_stats"] = _read_doc_stats(
                self.spark, self.index_dir, self.state.committed_batches)
        return self._memo["doc_stats"]

    def tombstones_df(self) -> DataFrame | None:
        """Distinct tombstoned doc_ids as a DataFrame (None when there are
        none) — consumers join/anti-join it; nothing is collected."""
        if "tombstones" not in self._memo:
            self._memo["tombstones"] = _read_tombstones(
                self.spark, self.index_dir, self.state.committed_batches)
        return self._memo["tombstones"]

    def live(self, df: DataFrame) -> DataFrame:
        """``df`` minus this snapshot's tombstoned doc_ids (a left-anti
        join on ``doc_id``; ``df`` unchanged when nothing is deleted)."""
        tomb = self.tombstones_df()
        return df if tomb is None else df.join(tomb, "doc_id", "left_anti")

    def stats(self) -> dict:
        """The ES ``_stats`` / ``_segments`` analog: corpus totals, segment
        (committed-batch) count, posting/position/tombstone row counts and
        on-disk bytes per dataset.  Driver-side parquet-footer metadata
        only — NO Spark job, so it's safe to poll from monitoring."""
        import pyarrow.dataset as _ds

        committed = self.state.committed_batches
        n_docs, sum_dl = self.state.n_docs, self.state.sum_dl

        def _rows_bytes(kind: str) -> tuple[int, int]:
            dirs = _batch_dirs(self.index_dir, kind, committed)
            rows = bites = 0
            for d in dirs:
                ds = _ds.dataset(d, format="parquet", partitioning="hive")
                rows += ds.count_rows()
                bites += sum(os.path.getsize(f) for f in ds.files)
            return rows, bites

        post_rows, post_bytes = _rows_bytes("postings")
        pos_rows, pos_bytes = (_rows_bytes("positions")
                               if self.state.has_positions else (0, 0))
        n_tombs = sum(_ds.dataset(d, format="parquet").count_rows()
                      for d in _doc_stats_dirs(self.index_dir, committed, "t"))
        return {
            "n_docs": n_docs,
            "sum_doc_len": sum_dl,
            "avg_doc_len": (sum_dl / n_docs) if n_docs else 0.0,
            "n_segments": len(committed),
            "committed_batches": list(committed),
            "n_posting_rows": post_rows,
            "postings_bytes": post_bytes,
            "n_position_rows": pos_rows,
            "positions_bytes": pos_bytes,
            "n_tombstones": n_tombs,
            "s_shards": self.state.s_shards,
            "n_buckets": self.state.n_buckets,
            "has_positions": self.state.has_positions,
        }

    def positions_for_terms(self, terms: list[str]) -> DataFrame:
        """Bucket-pruned positional-postings scan for the given terms,
        decoded to (term_id, doc_id, positions array<int>).  The bucket +
        term_id predicates push to the parquet scan (partition pruning and
        row-group stats), so the varbyte decode kernel receives only the
        query terms' rows — O(Σ query-term df), never the corpus.  The
        kernel decodes each Arrow batch in one pass: the rows' ``pos_vb``
        lie back to back in the column's value buffer, the delta chain
        restarts at each row, and the lists are built from ``n_pos``
        offsets."""
        from ..functions.hashing import xxhash64_str

        if not self.state.has_positions:
            raise ValueError(f"index {self.index_dir} was built without "
                             "positions=True")
        tids = sorted({xxhash64_str(t) for t in terms})  # signed, Spark parity
        buckets = sorted({tid % self.state.n_buckets for tid in tids})
        if "positions_base" not in self._memo:
            self._memo["positions_base"] = self.spark.read.option(
                "basePath", f"{self.index_dir}/positions").parquet(
                *_batch_dirs(self.index_dir, "positions",
                             self.state.committed_batches))
        df = self._memo["positions_base"]
        pruned = df.filter(col_isin("bucket", buckets)
                           & col_isin("term_id", tids))

        def _dec(batches):
            import pyarrow as pa

            for rb in batches:
                n_pos = rb.column("n_pos").to_numpy().astype(np.int64)
                offs, data = arrow_binary(rb.column("pos_vb"))
                pos = decode_delta_runs(data[offs[0]:offs[-1]], n_pos)
                lists = pa.ListArray.from_arrays(
                    pa.array(np.concatenate(([0], np.cumsum(n_pos))), pa.int32()),
                    pa.array(pos.astype(np.int32)))
                yield pa.RecordBatch.from_arrays(
                    [rb.column("term_id"), rb.column("doc_id"), lists],
                    ["term_id", "doc_id", "positions"])

        return pruned.select("term_id", "doc_id", "n_pos", "pos_vb").mapInArrow(
            _dec, schema="term_id bigint, doc_id bigint, positions array<int>")

    def postings_for_terms(self, terms: list[str]) -> DataFrame:
        """Partition-pruned scan: bucket IN (term buckets) AND term IN terms.
        The bucket predicate prunes parquet partitions at planning time."""
        from ..functions.hashing import xxhash64_str

        buckets = sorted({xxhash64_str(t) % self.state.n_buckets for t in terms})
        if "postings_base" not in self._memo:
            self._memo["postings_base"] = self.spark.read.option(
                "basePath", f"{self.index_dir}/postings").parquet(
                *_batch_dirs(self.index_dir, "postings",
                             self.state.committed_batches))
        df = self._memo["postings_base"]
        return df.filter(col_isin("bucket", buckets) & col_isin("term", terms))

    def group_tables(self, terms: list[str]):
        """The inputs of a scorer group that holds every doc of the index,
        read on the driver with pyarrow, no Spark job: (the committed
        batches' postings rows of ``terms`` with ``batch`` added, read from
        the terms' ``bucket=J`` dirs only; the lexicon generation's ``(term,
        df)`` rows of ``terms``).  The rows are those of
        :meth:`postings_for_terms` and :meth:`lexicon`; what to join is the
        caller's, and the deleted doc_ids are ``doc_maps.deleted``'s."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as _ds

        from ..functions.hashing import xxhash64_str

        st = self.state
        want = pc.field("term").isin(pa.array(sorted(set(terms)), pa.string()))
        buckets = sorted({xxhash64_str(t) % st.n_buckets for t in terms})
        parts = []
        for b in st.committed_batches:
            files = [f for j in buckets for f in sorted(glob.glob(
                f"{self.index_dir}/postings/batch={b}/bucket={j}/*.parquet"))]
            if files:
                t = _ds.dataset(files, format="parquet").to_table(
                    columns=_GROUP_COLS, filter=want)
                parts.append(t.append_column(
                    "batch", pa.array(np.full(t.num_rows, b, np.int32))))
        post = pa.concat_tables(parts) if parts else None

        lex = _ds.dataset(self._lexicon_dir(), format="parquet").to_table(
            columns=["term", "df"], filter=want)
        return post, lex

    def decoded_postings_for_terms(self, terms: list[str]) -> DataFrame:
        """Bucket-pruned scan decoded to one row per posting:
        (term, doc_id, tf, doc_len) — the TAAT-scorer input used by the
        boolean-query combinator.  Streaming mapInArrow, one decode pass per
        Arrow batch; cost is O(Σ df(terms)) rows, never the whole index."""
        post = self.postings_for_terms(terms)
        return post.select("term", "batch", "salt", "n_docs", *_STREAMS).mapInArrow(
            _explode_postings(("term",), self.doc_maps),
            schema="term string, doc_id bigint, tf int, doc_len int")

    def term_contribs(self, terms: list[str],
                      boosts: dict | None = None) -> DataFrame:
        """Per-posting BM25 contributions for ``terms``: (term, doc_id, tf,
        doc_len, df, idf, avgdl, contrib) — the one place the TAAT scorers'
        scoring expression is built.  Bucket-pruned decode joined to the
        broadcast lexicon; ``contrib`` is the whole-stage-codegen
        ``bm25_score_expr``.  avgdl is the snapshot's driver-side scalar as
        a literal, so no 1-row crossJoin (and no BroadcastNestedLoopJoin)
        reaches the plan.  ``boosts`` (ES ``term^w``) multiplies a term's
        contribution through a |boosted terms|-sized literal map, never
        data.  Tombstones are NOT applied — callers filter through
        :meth:`live` at the point in their plan that suits them."""
        from ..operators.indexing import bm25_score_expr

        lex = self.lexicon().filter(col_isin("term", terms)) \
            .select("term", "df", "idf")
        contrib = bm25_score_expr()
        if boosts:
            bmap = F.create_map(*[x for t, w in sorted(boosts.items())
                                  for x in (F.lit(t), F.lit(float(w)))])
            contrib = contrib * F.coalesce(bmap[F.col("term")], F.lit(1.0))
        return (self.decoded_postings_for_terms(terms)
                .join(F.broadcast(lex), "term")
                .withColumn("avgdl", F.lit(self.avgdl_value()))
                .withColumn("contrib", contrib))

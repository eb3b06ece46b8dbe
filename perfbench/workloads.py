"""The benchmark workloads.  Each is closed-loop with one client.

A workload function receives a :class:`Ctx` and returns a :class:`Result`.
It prepares its seeded inputs, sets up (session-side state such as the base
index), calls ``ctx.setup_done()`` right before its first timed operation,
then runs timed operations.  Output checks run after the timed interval.
With ``ctx.trace`` set, calls run under job groups and the per-layer
metrics are filled in; without it, ``layers`` stays empty.
"""

from __future__ import annotations

import glob
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from bench_extra import NAMES as SUITE_ENTRIES  # the 30 entries bench.py times
from gen import BATCH_QUERIES, Inputs, live_docs, oracle_topk
from tracing import Tracer, materialize, median

# Gated entries whose DuckDB oracle costs more than the entry's share of
# the run (minhash_verified: ~16 s per seed); checked by row count instead.
SLOW_ORACLES = {"minhash_verified"}

SCORE_TOL = 1e-6


@dataclass
class Ctx:
    spark: object
    inputs: Inputs
    seconds: float
    trace: bool
    tmp: str
    tracer: Tracer
    t_setup_done: float | None = None
    excluded_s: float = 0.0

    def prep(self, fn, *args):
        """Generate or load a seeded input; its time is not set-up time."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.excluded_s += time.perf_counter() - t0

    def setup_done(self) -> None:
        self.t_setup_done = time.perf_counter()


@dataclass
class Result:
    # end-to-end values in the contract's generic names
    latency_p50_ms: float
    throughput_per_s: float
    index_bytes_per_input_byte: float
    attempted: int
    failed: int
    # the same figures under the workload's own names, plus sample counts
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)


class Ops:
    """Counts attempted and failed operations.  A failure is an exception
    or a wrong result; it never stops the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong result: {what}")


# ------------------------------------------------------------------ helpers

def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**/*", recursive=True)
               if os.path.isfile(p))


def text_bytes(texts) -> int:
    return sum(len(t.encode()) for t in texts)


def by_query(rows) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(str(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {q: sorted(v) for q, v in out.items()}


def same_topk(got: dict[str, list], exp: dict[str, list], queries) -> bool:
    """Each query's hits match the oracle's top k: the same number of hits,
    the same score at every rank (within SCORE_TOL), and every document
    hit once with the score the oracle gives it.  Documents whose scores
    agree within SCORE_TOL may trade ranks: the two sides sum a document's
    term scores in different orders, which can split an exact tie."""
    ks = {str(qid): k for qid, _, k in queries}
    if set(got) - set(ks):
        return False
    for q, k in ks.items():
        g, e = got.get(q, []), exp.get(q, [])
        if len(g) != min(k, len(e)) or len({d for _, d, _ in g}) != len(g):
            return False
        score = {d: s for _, d, s in e}
        for (gr, gd, gs), (er, _, es) in zip(g, e):
            if gr != er or abs(gs - es) > SCORE_TOL or gd not in score \
                    or abs(score[gd] - gs) > SCORE_TOL:
                return False
    return True


def _decimals(x: np.ndarray) -> np.ndarray:
    """Per value, the fewest decimal places (up to 9) that hold it."""
    out = np.full(x.shape, 9)
    for d in range(8, -1, -1):
        s = x * 10.0 ** d
        out[np.abs(s - np.round(s)) <= 1e-6 + 1e-12 * np.abs(s)] = d
    return out


def same_frame(got, exp) -> bool:
    """The same rows as the oracle's, in any order, with one allowance.
    DuckDB and Spark sum in different orders, which can move a value across
    a rounding boundary: a score sum of 156.265 is 156.26 on one side and
    156.27 on the other, and an average taken from that sum then differs
    in its fourth place.  So in a row where a fractional float differs by
    exactly one unit in the last decimal place either side shows, every
    fractional float of the row may differ by up to that unit.  Whole-number
    floats, and every other value, must match exactly."""
    from tools.check_oracle import normalize

    if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
        return False
    g, e = normalize(got), normalize(exp)
    floats = [c for c in e.columns if str(e[c].dtype).startswith("float")]
    order = [c for c in e.columns if c not in floats] + floats
    g = g.sort_values(order, kind="stable").reset_index(drop=True)
    e = e.sort_values(order, kind="stable").reset_index(drop=True)
    for c in order[:len(order) - len(floats)]:
        if not ((g[c].astype(object) == e[c].astype(object))
                | (g[c].isna() & e[c].isna())).all():
            return False
    if not floats:
        return True
    a = g[floats].apply(pd.to_numeric, errors="coerce").to_numpy(np.float64)
    b = e[floats].to_numpy(np.float64)
    if not np.array_equal(np.isnan(a), np.isnan(b)):
        return False
    a, b = np.nan_to_num(a), np.nan_to_num(b)
    d = np.maximum(_decimals(a), _decimals(b))
    unit = np.where(d > 0, 10.0 ** -d, 0.0)
    diff = np.abs(a - b)
    boundary = (d > 0) & (np.abs(diff - unit) <= 1e-6 * unit)
    allowed = np.where(boundary, unit, 0.0).max(axis=1, keepdims=True)
    return bool(np.all(diff <= np.where(d > 0, allowed * (1 + 1e-6), 0.0) + 1e-9))


def wand_query(spark, reader, queries, **kw):
    from elasticsearch_data_import_handler_spark.operators.scoring import query_terms_df
    from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
    from elasticsearch_data_import_handler_spark.queryset import query_terms

    rows = [(qid, t, k) for qid, text, k in queries for t in query_terms(text)]
    return bm25_topk_wand(spark, reader, qterms=query_terms_df(spark, rows), **kw)


def postings_kernels(index_dir: str) -> dict:
    """Driver-side varbyte kernel costs over the index's largest posting
    rows, and the index's encoded bytes per posting."""
    import pyarrow.dataset as ds

    from elasticsearch_data_import_handler_spark.functions.varbyte import (
        bm25_partial, decode_posting_list, encode_posting_list)

    t = ds.dataset(f"{index_dir}/postings", format="parquet",
                   partitioning="hive").to_table(
        columns=["n_docs", "doc_ids_vb", "tfs_vb", "dls_vb"]).to_pandas()
    enc_bytes = sum(t[c].map(len).sum() for c in ("doc_ids_vb", "tfs_vb", "dls_vb"))
    top = t.sort_values("n_docs", ascending=False).head(16)
    n = int(top["n_docs"].sum())
    reps = 5
    dec = []
    t0 = time.perf_counter()
    for _ in range(reps):
        dec = [decode_posting_list(d, f, l) for d, f, l in
               zip(top["doc_ids_vb"], top["tfs_vb"], top["dls_vb"])]
    t_dec = time.perf_counter() - t0
    avgdl = float(np.mean(np.concatenate([x[2] for x in dec])))
    t0 = time.perf_counter()
    for _ in range(reps):
        for _, f, l in dec:
            bm25_partial(f, l, 1.5, avgdl)
    t_bm = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(reps):
        for d, f, l in dec:
            encode_posting_list(d, f, l)
    t_enc = time.perf_counter() - t0
    per = 1e9 / (reps * n)
    return {"functions.varbyte.decode_ns_per_posting": t_dec * per,
            "functions.varbyte.bm25_partial_ns_per_posting": t_bm * per,
            "functions.varbyte.encode_ns_per_posting": t_enc * per,
            "functions.varbyte.bytes_per_posting": enc_bytes / int(t["n_docs"].sum())}


def span_layers(prefix: str, spans, keys=("wall_s", "driver_gap_s", "jobs",
                                          "stages", "tasks", "exec_cpu_s",
                                          "shuffle_bytes")) -> dict:
    """Median of each counter over a list of spans."""
    return {f"{prefix}.{k}": median(getattr(s, k) for s in spans) for k in keys}


# ------------------------------------------------------------------- search

def search(ctx: Ctx) -> Result:
    """A clean index built in set-up, then a seeded request stream that
    interleaves single-query requests with 300-query msearch batches."""
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader, build_index

    spark, inp, tr = ctx.spark, ctx.inputs, ctx.tracer
    corpus = ctx.prep(inp.search_corpus)
    reqs = ctx.prep(inp.search_requests)

    idx = os.path.join(ctx.tmp, "search_idx")
    build_index(spark, spark.read.parquet(corpus), idx)
    reader = IndexReader(spark, idx)
    wand_query(spark, reader, [(0, "spark sql join", 10)]).collect()  # warm query path
    ctx.setup_done()

    ops = Ops()
    done = {"single": [], "batch": []}  # (span, rows) per request, in order
    t_end = time.perf_counter() + ctx.seconds
    # two singles, then a batch, repeated; at least two batches
    while (time.perf_counter() < t_end or len(done["batch"]) < 2) \
            and len(done["batch"]) < len(reqs["batch"]):
        kind = "batch" if (len(done["single"]) + len(done["batch"])) % 3 == 2 else "single"
        req = reqs[kind][len(done[kind])]
        with tr.span(f"operators.wand.{kind}") as sp:
            rows = ops.run(lambda: wand_query(spark, reader, req["queries"]).collect())
        done[kind].append((sp, rows))
    spans = {kind: [sp for sp, _ in v] for kind, v in done.items()}

    layers = {}
    if ctx.trace:
        layers.update(span_layers("operators.wand.single", spans["single"],
                                  ("driver_gap_s", "jobs", "stages", "tasks")))
        layers["operators.wand.single.driver_gap_ms"] = \
            1000 * layers.pop("operators.wand.single.driver_gap_s")
        layers.update(_batch_layers(ctx, reader, reqs["batch"][0]["queries"],
                                    spans["batch"]))
        layers.update(postings_kernels(idx))
        writes, write_layers = write_probe(ctx, ops)
        layers.update(write_layers)

    # checks (outside the timed interval)
    live = live_docs(pd.read_parquet(corpus))
    for kind, results in done.items():
        for i, (_, rows) in enumerate(results):
            queries = reqs[kind][i]["queries"]
            exp = inp.cached(f"search_{kind}{i}", lambda: oracle_topk(live, queries))
            if rows is not None:
                ops.check(same_topk(by_query(rows), exp, queries), f"{kind} {i}")

    lat = [sp.wall_s for sp in spans["single"]]
    qps = [BATCH_QUERIES / sp.wall_s for sp in spans["batch"]]
    space = dir_bytes(idx) / text_bytes(t for _, t in live.values())
    named = {"query_p50_ms": 1000 * median(lat), "single_ms": [1000 * x for x in lat],
             "msearch_qps": median(qps), "batch_qps": qps,
             "index_bytes_per_input_byte": space}
    if ctx.trace:
        named.update(writes)
    return Result(1000 * median(lat), median(qps), space, ops.attempted,
                  ops.failed, named, layers, ops.errors)


def _batch_layers(ctx: Ctx, reader, queries, spans_batch) -> dict:
    """Split one msearch batch into scan, decode, score and merge by
    materializing prefixes of its plan."""
    from elasticsearch_data_import_handler_spark.queryset import query_terms

    spark = ctx.spark
    terms = sorted({t for _, text, _ in queries for t in query_terms(text)})
    t0 = time.perf_counter()
    materialize(reader.postings_for_terms(terms))
    scan = time.perf_counter() - t0
    t0 = time.perf_counter()
    materialize(reader.decoded_postings_for_terms(terms))
    decoded = time.perf_counter() - t0
    t0 = time.perf_counter()
    cands = wand_query(spark, reader, queries, candidates=True).collect()
    cand_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    hits = wand_query(spark, reader, queries).collect()
    full = time.perf_counter() - t0
    out = span_layers("operators.wand.batch", spans_batch, ("exec_cpu_s", "shuffle_bytes"))
    out.update({
        "plans.build.reader.scan_s": scan,
        "plans.build.reader.decode_s": max(0.0, decoded - scan),
        "operators.wand.batch.score_s": max(0.0, cand_s - decoded),
        "operators.wand.batch.merge_s": max(0.0, full - cand_s),
        "operators.wand.batch.candidates_per_hit": len(cands) / max(1, len(hits)),
    })
    return out


# ------------------------------------------------------------ write probe

def write_probe(ctx: Ctx, ops: Ops) -> tuple[dict, dict]:
    """Writes beside reads, run after the timed interval of a traced run:
    on a freshly built base index, two upsert commits, one delete_by_query
    and one compact_index, each read back by a single query on a fresh
    reader.  Returns (figures under their own names, per-layer metrics)."""
    from elasticsearch_data_import_handler_spark.functions.textanalysis import tokenize
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index, commit_batch, compact_index, delete_by_query)

    spark, inp, tr = ctx.spark, ctx.inputs, ctx.tracer
    base_path = inp.incr_base()
    upserts = inp.upsert_batches()
    term = inp.delete_term()
    fresh = inp.fresh_queries()
    idx = os.path.join(ctx.tmp, "incr_idx")
    build_index(spark, spark.read.parquet(base_path), idx)

    commits, queries, opened = [], [], []  # spans, spans, seconds
    states = []  # (kind, stats or delete result, query rows)

    def fresh_query():
        t0 = time.perf_counter()
        reader = IndexReader(spark, idx)
        opened.append(time.perf_counter() - t0)
        q = fresh[len(queries) % len(fresh)]
        with tr.span("operators.wand.fresh") as sp:
            rows = ops.run(lambda: wand_query(spark, reader, [q]).collect())
        sp.wall_s += opened[-1]
        queries.append(sp)
        return rows

    n_pages = []
    for j, path in enumerate(upserts):
        batch = spark.read.parquet(path)
        n_pages.append(len(pd.read_parquet(path, columns=["url"])))
        with tr.span("plans.build.commit") as sp:
            ops.run(lambda: commit_batch(spark, batch, idx, batch_id=j + 1))
        commits.append(sp)
        states.append(("commit", IndexReader(spark, idx).stats(), fresh_query()))
    with tr.span("plans.build.delete") as sp_del:
        res = ops.run(lambda: delete_by_query(spark, idx, must=[term]))
    stats_del = IndexReader(spark, idx).stats()
    states.append(("delete", res, fresh_query()))
    with tr.span("plans.build.compact") as sp_cmp:
        ops.run(lambda: compact_index(spark, idx))
    states.append(("compact", IndexReader(spark, idx).stats(), fresh_query()))

    layers = span_layers("plans.build.commit", commits,
                         ("wall_s", "driver_gap_s", "jobs", "shuffle_bytes", "exec_cpu_s"))
    layers["plans.build.commit.growth_ratio"] = commits[-1].wall_s / commits[0].wall_s
    layers["plans.build.delete.wall_s"] = sp_del.wall_s
    layers["plans.build.compact.wall_s"] = sp_cmp.wall_s
    new_b = IndexReader(spark, idx).state.committed_batches[0]
    layers["plans.build.compact.bytes_rewritten"] = sum(
        dir_bytes(f"{idx}/{d}/batch={new_b}") for d in ("postings", "doc_stats"))
    layers["plans.build.reader.segments"] = stats_del["n_segments"]
    layers["plans.build.reader.tombstones"] = stats_del["n_tombstones"]
    layers["plans.build.reader.postings_bytes_per_live_doc"] = (
        stats_del["postings_bytes"] / stats_del["n_docs"])
    layers["operators.wand.fresh.reader_open_ms"] = 1000 * median(opened)
    layers["operators.wand.fresh.jobs"] = median(s.jobs for s in queries)
    layers["operators.wand.fresh.driver_gap_ms"] = 1000 * median(
        s.driver_gap_s for s in queries)
    layers.update(build_layers(ctx, upserts[0], commits[0].wall_s))

    # checks: every snapshot against the BM25 oracle over its live documents
    frames = [pd.read_parquet(base_path)]
    snap_live = []
    for path in upserts:
        frames.append(pd.read_parquet(path))
        snap_live.append(live_docs(pd.concat(frames, ignore_index=True)))
    live = dict(snap_live[-1])
    victims = [u for u, (_, t) in live.items() if term in tokenize(t)]
    for u in victims:
        del live[u]
    snap_live += [live, live]
    for n, ((kind, info, rows), docs) in enumerate(zip(states, snap_live)):
        exp = inp.cached(f"writes_s{n}", lambda: {
            "n_docs": len(docs), "victims": len(victims),
            "topk": oracle_topk(docs, [fresh[n % len(fresh)]])})
        if info is None or rows is None:
            continue  # already counted as a failed operation
        if kind == "delete":
            ops.check(info["n_tombstones"] == exp["victims"], "delete victims")
        else:
            ops.check(info["n_docs"] == exp["n_docs"], f"{kind} {n} n_docs")
        if kind == "compact":
            ops.check(info["n_tombstones"] == 0 and info["n_segments"] == 1,
                      "compacted layout")
        ops.check(same_topk(by_query(rows), exp["topk"], [fresh[n % len(fresh)]]),
                  f"{kind} {n} top-k")

    named = {"upsert_docs_per_s": sum(n_pages) / sum(s.wall_s for s in commits),
             "fresh_query_p50_ms": 1000 * median(s.wall_s for s in queries),
             "fresh_samples": len(queries)}
    return named, layers


def build_layers(ctx: Ctx, pages_path: str, commit_wall_s: float) -> dict:
    """Build-side layers of one batch, by materializing the prefixes
    dedup → tokenize → postings of the commit's own plan."""
    from pyspark.sql import functions as F

    from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
    from elasticsearch_data_import_handler_spark.plans.build import (
        build_postings, docs_versioned)

    spark, tr = ctx.spark, ctx.tracer
    pages = spark.read.parquet(pages_path)
    n_in = pages.count()
    proj = pages.select("url", "warc_ts", "text", F.xxhash64("html").alias("__tb"))
    dedup = dedup_latest(proj, tie_cols=["__tb"]).drop("__tb")
    docs = docs_versioned(dedup)
    post = build_postings(docs, 1, 8, shuffle_partitions=spark.sparkContext.defaultParallelism)
    with tr.span("operators.dedup") as s_d:
        materialize(dedup)
    with tr.span("functions.textanalysis") as s_t:
        n_tokens = docs.select(F.sum("doc_len")).first()[0]
    with tr.span("plans.build.postings") as s_p:
        n_rows = post.count()
    n_kept = dedup.count()
    return {
        "operators.dedup.wall_s": s_d.wall_s,
        "operators.dedup.shuffle_bytes": s_d.shuffle_bytes,
        "operators.dedup.kept_frac": n_kept / n_in,
        "functions.textanalysis.wall_s": max(0.0, s_t.wall_s - s_d.wall_s),
        "functions.textanalysis.tokens": n_tokens,
        "plans.build.postings.wall_s": max(0.0, s_p.wall_s - s_t.wall_s),
        "plans.build.postings.shuffle_bytes": s_p.shuffle_bytes,
        "plans.build.postings.spill_bytes": s_p.spill,
        "plans.build.postings.rows": n_rows,
        "plans.build.write_commit_s": max(0.0, commit_wall_s - s_p.wall_s),
        "plans.build.driver_gap_s": s_p.driver_gap_s,
        "plans.build.jobs": s_p.jobs,
        "plans.build.stages": s_p.stages,
        "plans.build.exec_cpu_s": s_p.exec_cpu_s,
    }


# ----------------------------------------------------------- operator suite

def operator_suite(ctx: Ctx) -> Result:
    """One pass over the 30 ``q_*`` entries on seeded star-schema tables,
    after the gate indexes are built in set-up."""
    import __spark_entry__ as entry

    spark, inp, tr = ctx.spark, ctx.inputs, ctx.tracer
    sf = ctx.prep(inp.suite_dir)
    registered = entry.queries()
    oracles = entry.oracle_sql()
    gated = [n for n in SUITE_ENTRIES if n not in SLOW_ORACLES
             and registered.get(n) is getattr(entry, f"q_{n}") and n in oracles]
    expected = {n: ctx.prep(inp.cached_frame, f"suite_{n}",
                            lambda n=n: _duckdb_frame(sf, oracles[n]))
                for n in gated}

    entry._gate_index(spark, sf)
    entry._gate_title_index(spark, sf)
    ctx.setup_done()

    ops = Ops()
    walls, spans, results = {}, {}, {}
    for name in SUITE_ENTRIES:
        fn = getattr(entry, f"q_{name}")
        with tr.span(f"__spark_entry__.{name}") as sp:
            df = ops.run(lambda: fn(spark, sf).toPandas())
        walls[name], spans[name], results[name] = sp.wall_s, sp, df
    persisted_left = release_persisted(spark)

    layers = {}
    if ctx.trace:
        for name in SUITE_ENTRIES:
            layers[f"__spark_entry__.{name}.wall_s"] = walls[name]
        layers["__spark_entry__.jobs"] = sum(s.jobs for s in spans.values())
        layers["__spark_entry__.stages"] = sum(s.stages for s in spans.values())
        layers["__spark_entry__.persisted_left"] = persisted_left

    # checks: DuckDB oracle where the entry is gated, else a row count
    # recorded for the seed
    counts = inp.cached("suite_rowcounts", lambda: {
        n: len(df) for n, df in results.items() if df is not None})
    for name, df in results.items():
        if df is None:
            continue
        if name in expected:
            ops.check(same_frame(df, expected[name]), f"suite {name} vs oracle")
        else:
            ops.check(len(df) == counts.get(name, -1), f"suite {name} row count")

    suite_s = sum(walls.values())
    gate = inp.cached("suite_space", lambda: text_bytes(
        pd.read_parquet(f"{sf}/documents.parquet")["text"]))
    space = dir_bytes(entry._GATE_INDEX[sf]) / gate
    named = {"suite_s": suite_s, "entries": len(walls),
             "entry_p50_ms": 1000 * median(walls.values()),
             "persisted_left": persisted_left,
             "index_bytes_per_input_byte": space}
    return Result(1000 * median(walls.values()), len(walls) / suite_s, space,
                  ops.attempted, ops.failed, named, layers, ops.errors)


def release_persisted(spark) -> int:
    """Release everything the entries persisted; return how many RDDs were
    still persisted."""
    sc = spark.sparkContext
    left = dict(sc._jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    for rdd in dict(sc._jsc.getPersistentRDDs()).values():
        rdd.unpersist(True)
    return len(left)


def _duckdb_frame(sf: str, sql: str):
    import duckdb

    from tools.check_oracle import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


WORKLOADS = {"search": search, "operator_suite": operator_suite}

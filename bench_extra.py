"""Round-6 optimization harness (bench.py is FROZEN for measurement; this
file exists for guide §1.4-style isolation work and is NOT part of the
driver's timing).

Subcommands:
  suite [names...]      time the bench suite queries the way perfbench's
                        operator_suite does (each collected with toPandas()
                        at $SPARK_GRAFT_CPUS over $SPARK_GRAFT_SF_DIR, and
                        everything it persisted released before the next
                        run, so no rep reads an earlier one's cache);
                        default = all 30 suite names.  --reps N repeats
                        each query N times in-process and prints all, with
                        the Spark jobs and stages of each run.
  plans [names...]      write .explain("formatted") for each query to
                        plans/r06/<name>_<tag>.txt (--tag before|after).
  build                 time build_index + bm25 query batch at c8 on the
                        cached .bench corpus (the index_build /
                        bm25_query_batch bench entries).
  wand                  time the block-max WAND kernel in-process, with no
                        Spark in the timed loop, over the (query-bucket,
                        salt) groups of the seeded perfbench search index's
                        first 300-query batch (--seed, default 7): ns per
                        decoded posting and groups/s, median of --reps
                        passes.  Spark only builds the index and writes the
                        groups once, under .bench/.
  format                the posting format on the same seeded search index
                        (--seed, default 7): encoded bytes per posting of
                        each stream, ns per posting to decode the doc
                        stream and map its ordinals to doc_ids (through the
                        segment doc maps) and to encode every posting list
                        (encode_posting_batch), median of --reps passes,
                        and the index's on-disk bytes per subdirectory.
  single                the phase split of a warm single-query request on
                        the seeded perfbench search index (--seed, default
                        7), median ms over --reps (default 10) of its
                        singles, for both paths of a one-group request: the
                        driver path bm25_topk_wand takes (query frame,
                        qterms collect, pyarrow read of postings and lexicon
                        df, the tombstone load, StrictMath idf, join,
                        kernel, merge, final collect) and the Spark plan
                        (candidates=True, toArrow, the same merge, final
                        collect), with each path's Spark jobs and whether
                        their ranked rows are identical.
  upserted              a WAND request on an index with tombstones against
                        the same index before them: builds 2,000 seeded
                        pages (tau 200, 8 buckets, so 16 salts and the Spark
                        plan), opens a reader, upserts 600 re-crawled pages
                        (600 tombstones) and opens a second reader; prints
                        the Spark jobs, stages and median ms of a warm
                        single and a warm 300-query batch on each reader,
                        over --reps (default 8) alternating reps.
  task_overhead         the fixed cost of one Python task, under the stock
                        pyspark.daemon and under the engine's preloading
                        daemon (daemon.py).  Runs --reps (default 30)
                        trivial 1-partition mapInArrow jobs and prints the
                        median ms from submit to UDF entry and the worker's
                        zipimporter count, first for a UDF that never
                        imports the engine, then for one that does (the
                        package makes zipimport invalidation lazy in the
                        worker; see zipcache.py).  Then, with worker reuse
                        off so every task runs on a freshly forked worker,
                        a task whose UDF unpickles into the engine's kernel
                        module: the median ms from the fork to UDF entry
                        (/proc start time, 10 ms resolution) and from UDF
                        entry to the return of its first kernel call (a
                        pa.array, whose first call imports pandas unless the
                        daemon did).  --cpus defaults to 1 here, so one
                        worker runs every task.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

NAMES = ["bm25_topk", "term_freqs", "minhash_lsh", "simhash_neardup",
         "ngram_jaccard", "ann_topk", "dedup_exact", "quality_score",
         "tpch_pricing", "join_topn", "window_running", "sessionize",
         "minhash_verified", "ann_ivf", "ann_ivf_pq",
         "embedding_neardup_lsh",
         "range_join", "asof_join", "pack_sequences", "query_string",
         "search_facets", "more_like_this", "hybrid_rrf", "dis_max",
         "function_score", "pii_redact", "contamination",
         "stats_sketch", "multi_match", "query_combinators"]


def _spark():
    import __spark_entry__ as entrymod
    from elasticsearch_data_import_handler_spark.session import get_spark

    spark = get_spark(f"bench-extra-c{CPUS}", cpus=CPUS)
    # same warmups as bench._bench_sf_queries
    spark.range(CPUS * 4).repartition(CPUS).mapInPandas(
        lambda it: it, schema="id long").count()
    entrymod._gate_index(spark, SF_DIR)
    entrymod._gate_title_index(spark, SF_DIR)
    return spark, entrymod


def cmd_suite(names, reps=1):
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from tracing import Tracer
    from workloads import release_persisted

    spark, entrymod = _spark()
    tracer = Tracer(spark, enabled=True)
    out = {}
    try:
        for name in names:
            fn = getattr(entrymod, f"q_{name}")
            ts, jobs, stages = [], [], []
            for _ in range(reps):
                with tracer.span(f"suite:{name}") as sp:
                    n = len(fn(spark, SF_DIR).toPandas())
                release_persisted(spark)
                ts.append(round(sp.wall_s, 3))
                jobs.append(sp.jobs)
                stages.append(sp.stages)
            out[name] = ts if reps > 1 else ts[0]
            print(f"{name}: {ts} (rows={n}, jobs={jobs}, stages={stages})",
                  file=sys.stderr, flush=True)
    finally:
        spark.stop()
    print(json.dumps(out))


def cmd_plans(names, tag):
    spark, entrymod = _spark()
    os.makedirs(os.path.join(REPO, "plans", "r06"), exist_ok=True)
    try:
        for name in names:
            fn = getattr(entrymod, f"q_{name}")
            df = fn(spark, SF_DIR)
            p = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(REPO, "plans", "r06", f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(p)
            print(f"wrote {path}", file=sys.stderr)
    finally:
        spark.stop()


def cmd_build(cpus=8, reps=1):
    import shutil
    import tempfile

    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)
    from elasticsearch_data_import_handler_spark.operators.wand import (
        bm25_topk_wand)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.queryset import query_term_rows
    from elasticsearch_data_import_handler_spark.session import get_spark

    corpus = os.path.join(REPO, ".bench", "pages_200000")
    spark = get_spark(f"bench-extra-build-c{cpus}", cpus=cpus,
                      shuffle_partitions=max(cpus, 8))
    out = {}
    idx = None
    try:
        pages = spark.read.parquet(corpus)
        warm = tempfile.mkdtemp(prefix="eidh_x_warm_")
        build_index(spark, pages.limit(20_000), warm, tau=50_000, n_buckets=16)
        shutil.rmtree(warm, ignore_errors=True)
        builds = []
        for _ in range(reps):
            if idx:
                shutil.rmtree(idx, ignore_errors=True)
            idx = tempfile.mkdtemp(prefix="eidh_x_idx_")
            t0 = time.time()
            m = build_index(spark, pages, idx, tau=50_000, n_buckets=16)
            builds.append(round(time.time() - t0, 2))
        out["build_secs"] = builds
        out["timings"] = m.get("timings")
        reader = IndexReader(spark, idx)
        rows_q = [(qid + 100 * c, t, k) for c in range(20)
                  for qid, t, k in query_term_rows()]
        qterms = query_terms_df(spark, rows_q)
        bs = []
        for _ in range(3):
            t0 = time.time()
            rows = bm25_topk_wand(spark, reader, qterms=qterms).collect()
            bs.append(round(time.time() - t0, 3))
            assert len(rows) > 0
        out["query_batch_secs"] = bs
    finally:
        if idx:
            shutil.rmtree(idx, ignore_errors=True)
        spark.stop()
    print(json.dumps(out))


def _seed_index(spark, seed):
    """Build the perfbench ``search`` index of ``seed`` under .bench/;
    returns (its work dir, the index dir, the seeded inputs)."""
    import shutil

    from elasticsearch_data_import_handler_spark.plans.build import build_index

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from gen import Inputs

    work = os.path.join(REPO, ".bench", f"wand_seed{seed}")
    inp = Inputs(os.path.join(work, "perfbench"), seed)
    idx = os.path.join(work, "idx")
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, spark.read.parquet(inp.search_corpus()), idx)
    return work, idx, inp


def cmd_wand(seed=7, reps=5, cpus=4):
    from statistics import median

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from elasticsearch_data_import_handler_spark.operators import wand
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader
    from elasticsearch_data_import_handler_spark.plans.docmap import DocMaps
    from elasticsearch_data_import_handler_spark.queryset import query_terms
    from elasticsearch_data_import_handler_spark.session import get_spark

    spark = get_spark("bench-extra-wand", cpus=cpus)
    try:
        work, idx, inp = _seed_index(spark, seed)
        queries = inp.search_requests()["batch"][0]["queries"]
        groups_dir = os.path.join(work, "groups")
        reader = IndexReader(spark, idx)
        avgdl = reader.avgdl_value()
        rows = [(q, t, k) for q, text, k in queries for t in query_terms(text)]
        qterms, qt = wand._request_rows(spark, query_terms_df(spark, rows))
        scored = wand._scorer_input(spark, reader, qterms, qt,
                                    wand._query_buckets(qt))
        scored.write.mode("overwrite").parquet(groups_dir)
    finally:
        spark.stop()
    table = pads.dataset(groups_dir).to_table()
    qb, salt = table["__qbucket"].to_numpy(), table["salt"].to_numpy()
    groups = [table.filter(pa.array((qb == b) & (salt == s)))
              for b, s in sorted(set(zip(qb.tolist(), salt.tolist())))]
    doc_maps, none_deleted = DocMaps(idx), np.empty(0, np.int64)

    decoded = 0
    run = wand.decode_posting_runs

    def counting(*a):
        nonlocal decoded
        out = run(*a)
        decoded += out[0].size
        return out

    wand.decode_posting_runs = counting
    try:
        for g in groups:
            wand._score_group(g, none_deleted, avgdl, doc_maps)
    finally:
        wand.decode_posting_runs = run
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for g in groups:
            wand._score_group(g, none_deleted, avgdl, doc_maps)
        secs.append(time.perf_counter() - t0)
    s = median(secs)
    print(json.dumps({
        "seed": seed, "queries": len(queries), "groups": len(groups),
        "rows": table.num_rows,
        "postings_in_groups": int(pc.sum(table["n_docs"]).as_py()),
        "postings_decoded": decoded, "kernel_s": [round(x, 4) for x in secs],
        "ns_per_decoded_posting": round(1e9 * s / max(1, decoded), 1),
        "groups_per_s": round(len(groups) / s, 1)}))


def cmd_single(seed=7, reps=10, cpus=4):
    from statistics import median

    from elasticsearch_data_import_handler_spark.operators import wand
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader
    from elasticsearch_data_import_handler_spark.queryset import query_terms
    from elasticsearch_data_import_handler_spark.session import get_spark

    spark = get_spark("bench-extra-single", cpus=cpus)
    sc = spark.sparkContext
    try:
        _, idx, inp = _seed_index(spark, seed)
        reader = IndexReader(spark, idx)
        if reader.state.s_shards != 1:
            raise SystemExit("the one-group path needs an index of one salt")
        avgdl = reader.avgdl_value()
        singles = [[(q, t, k) for q, text, k in r["queries"]
                    for t in query_terms(text)]
                   for r in inp.search_requests()["single"]]

        def timed(phases, name, fn, *a):
            t0 = time.perf_counter()
            out = fn(*a)
            phases[name] = phases.get(name, 0.0) + 1000 * (time.perf_counter() - t0)
            return out

        def local(rows):
            ph = {}
            qterms = timed(ph, "query_terms_df", query_terms_df, spark, rows)
            _, qt = timed(ph, "qterms_collect", wand._request_rows, spark, qterms)
            terms = sorted(set(qt.column("term").to_pylist()))
            post, lex = timed(ph, "read", reader.group_tables, terms)
            deleted = timed(ph, "tombstones", reader.doc_maps.deleted, 0)
            idf = timed(ph, "idf", wand._strict_idf, spark,
                        lex.column("df").to_numpy(), reader.state.n_docs)
            table = (timed(ph, "join", wand._join_group, qt, post,
                           lex.column("term"), idf)
                     if post is not None else None)
            top = (timed(ph, "kernel", wand._score_group, table, deleted, avgdl,
                         reader.doc_maps)
                   if table is not None else wand._TOPK.empty_table())
            df = timed(ph, "merge", wand._merge_shard_topks, spark, top, None)
            return ph, timed(ph, "collect", df.collect)

        def via_spark(rows):
            ph = {}
            qterms = timed(ph, "query_terms_df", query_terms_df, spark, rows)
            cands = timed(ph, "plan_and_udf", wand.bm25_topk_wand, spark,
                          reader, qterms, None, True)
            top = timed(ph, "toArrow", cands.toArrow)
            df = timed(ph, "merge", wand._merge_shard_topks, spark, top, None)
            return ph, timed(ph, "collect", df.collect)

        def run(path, rows, group):
            sc.setJobGroup(group, group)
            try:
                ph, got = path(rows)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            ph["total"] = sum(ph.values())
            return ph, got

        run(local, singles[0], "single-warm-local")
        run(via_spark, singles[0], "single-warm-spark")
        res = {"local": [], "spark": []}
        identical = True
        for i in range(reps):
            rows = singles[i % len(singles)]
            a, got_l = run(local, rows, f"single-local-{i}")
            b, got_s = run(via_spark, rows, f"single-spark-{i}")
            res["local"].append(a)
            res["spark"].append(b)
            identical &= got_l == got_s
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = {p: median(len(sc.statusTracker().getJobIdsForGroup(
            f"single-{p}-{i}")) for i in range(reps)) for p in res}
    finally:
        spark.stop()
    print(json.dumps({
        "seed": seed, "reps": reps, "identical_rows": identical, "jobs": jobs,
        **{f"{p}_ms": {k: round(median(r[k] for r in runs), 2) for k in runs[0]}
           for p, runs in res.items()}}))


def cmd_upserted(reps=8, cpus=4):
    import shutil
    from statistics import median

    import numpy as np
    import pandas as pd

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from tracing import Tracer

    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)
    from elasticsearch_data_import_handler_spark.operators.wand import (
        bm25_topk_wand)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index, commit_batch)
    from elasticsearch_data_import_handler_spark.queryset import query_terms
    from elasticsearch_data_import_handler_spark.session import get_spark
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        PAGES_SCHEMA, build_vocab, synth_pages_pdf)

    spark = get_spark("bench-extra-upserted", cpus=cpus)
    tracer = Tracer(spark, enabled=True)
    idx = os.path.join(REPO, ".bench", "upserted", "idx")
    shutil.rmtree(idx, ignore_errors=True)
    try:
        base = synth_pages_pdf(2000, seed=7)
        build_index(spark, spark.createDataFrame(base, schema=PAGES_SCHEMA), idx,
                    tau=200, n_buckets=8)
        before = IndexReader(spark, idx)
        # re-crawl: 600 of the urls, a day later, with another page's text
        recrawl = synth_pages_pdf(600, seed=8).iloc[:600].copy()
        recrawl["url"] = base["url"].iloc[:600].to_numpy()
        recrawl["warc_ts"] = base["warc_ts"].iloc[:600].to_numpy() + pd.Timedelta(days=1)
        upsert = commit_batch(spark, spark.createDataFrame(recrawl, schema=PAGES_SCHEMA),
                              idx, 1, tau=200, n_buckets=8)
        after = IndexReader(spark, idx)
        rng = np.random.default_rng(7)
        words = build_vocab(5000)[5:505]
        batch = [(q, t, 10) for q in range(300)
                 for t in query_terms(" ".join(rng.choice(words, 3)))]
        single = [(0, t, 10) for t in query_terms("spark sql join")]
        readers = {"before": before, "after": after}
        kinds = {"single": single, "batch": batch}

        def request(reader, rows):
            return bm25_topk_wand(spark, reader, qterms=query_terms_df(spark, rows)).collect()

        for reader in readers.values():
            for rows in kinds.values():
                request(reader, rows)  # warm: lexicon, doc maps, tombstones
        spans = {(r, k): [] for r in readers for k in kinds}
        for i in range(reps):
            for r in (readers if i % 2 == 0 else reversed(list(readers))):
                for k, rows in kinds.items():
                    with tracer.span(f"{r}-{k}") as sp:
                        request(readers[r], rows)
                    spans[(r, k)].append(sp)
    finally:
        spark.stop()
    print(json.dumps({
        "reps": reps, "s_shards": after.state.s_shards,
        "n_tombstones": upsert["n_tombstones"],
        **{f"{r}_{k}": {"jobs": median(sp.jobs for sp in ss),
                        "stages": median(sp.stages for sp in ss),
                        "ms_p50": round(1000 * median(sp.wall_s for sp in ss), 1)}
           for (r, k), ss in spans.items()}}))


def cmd_format(seed=7, reps=5, cpus=4):
    from statistics import median

    import numpy as np
    import pyarrow.dataset as pads

    from elasticsearch_data_import_handler_spark.functions.varbyte import (
        arrow_binary, decode_doc_runs, decode_posting_runs, encode_posting_batch)
    from elasticsearch_data_import_handler_spark.plans.docmap import (
        DocMaps, segment_maps)
    from elasticsearch_data_import_handler_spark.session import get_spark

    spark = get_spark("bench-extra-format", cpus=cpus)
    try:
        _, idx, _ = _seed_index(spark, seed)
    finally:
        spark.stop()
    t = pads.dataset(f"{idx}/postings", format="parquet", partitioning="hive") \
        .to_table(columns=["batch", "salt", "n_docs", "doc_ids_vb", "tfs_vb",
                           "dls_vb"]).combine_chunks()
    n_docs = t["n_docs"].to_numpy().astype(np.int64)
    n = int(n_docs.sum())
    streams = {}
    for c in ("doc_ids_vb", "tfs_vb", "dls_vb"):
        offs, data = arrow_binary(t[c].chunk(0))
        streams[c] = data[offs[0]:offs[-1]]
    batch, salt = t["batch"].to_numpy(), t["salt"].to_numpy()
    doc_maps = DocMaps(idx)

    def timed(fn):
        secs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            secs.append(time.perf_counter() - t0)
        return round(1e9 * median(secs) / n, 1)

    def decode_doc_ids():
        flat, base = segment_maps(doc_maps, batch, salt)
        return flat[np.repeat(base, n_docs)
                    + decode_doc_runs(streams["doc_ids_vb"], n_docs)]

    decode_ns = timed(decode_doc_ids)
    d, tf, dl = decode_posting_runs(*streams.values(), n_docs)
    gstarts = np.cumsum(n_docs) - n_docs
    encode_ns = timed(lambda: encode_posting_batch(d, tf, dl, gstarts))
    sizes = {}
    for root, _, files in os.walk(idx):
        top = os.path.relpath(root, idx).split(os.sep)[0]
        sizes[top] = sizes.get(top, 0) + sum(
            os.path.getsize(os.path.join(root, f)) for f in files)
    print(json.dumps({
        "seed": seed, "postings": n, "posting_rows": t.num_rows,
        "bytes_per_posting": {c: round(v.size / n, 3) for c, v in streams.items()},
        "doc_id_decode_ns_per_posting": decode_ns,
        "encode_ns_per_posting": encode_ns,
        "index_bytes": dict(sorted(sizes.items())),
        "index_bytes_total": sum(sizes.values())}))


def _fork_to_now_ms() -> float:
    """ms since this process was forked (/proc start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return 1000 * (time.clock_gettime(time.CLOCK_BOOTTIME)
                   - ticks / os.sysconf("SC_CLK_TCK"))


def cmd_task_overhead(tasks=30, cpus=1):
    from statistics import median

    import numpy as np
    import pyarrow as pa

    from elasticsearch_data_import_handler_spark.functions import varbyte
    from elasticsearch_data_import_handler_spark.session import get_spark

    def probe(with_engine):
        def udf(batches):
            entered = time.time()
            if with_engine:
                import elasticsearch_data_import_handler_spark  # noqa: F401
            import zipimport
            n_zip = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pydict(
                {"entered": [entered], "zipimporters": [n_zip]})
        return udf

    def first_task(batches):
        # unpickling this closure imports the engine's kernel module, as an
        # engine task's does; pa.array is the first call of every kernel
        forked = _fork_to_now_ms()
        t0 = time.perf_counter()
        varbyte.bm25_partial(pa.array(np.arange(1, 4)).to_numpy(), 10, 1.0, 10.0)
        first = 1000 * (time.perf_counter() - t0)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"fork_to_udf_ms": [forked], "udf_to_first_kernel_ms": [first]})

    out = {"tasks": tasks, "cpus": cpus}
    for daemon in ("pyspark.daemon",
                   "elasticsearch_data_import_handler_spark.daemon"):
        res = out[daemon] = {}
        spark = get_spark("bench-extra-task-overhead", cpus=cpus,
                          extra={"spark.python.daemon.module": daemon})
        try:
            # without first: a worker keeps the engine's wrapper once imported
            for name, with_engine in (("without_engine", False),
                                      ("with_engine", True)):
                df = spark.range(100, numPartitions=1).mapInArrow(
                    probe(with_engine), "entered double, zipimporters long")
                ms, n_zip = [], []
                for i in range(tasks + 2):
                    t0 = time.time()
                    r = df.collect()[0]
                    if i >= 2:  # the first two start the worker / import the engine
                        ms.append(1000 * (r.entered - t0))
                        n_zip.append(r.zipimporters)
                res[name] = {"submit_to_udf_ms_p50": round(median(ms), 1),
                             "zipimporters": int(median(n_zip))}
        finally:
            spark.stop()
        # every task on a freshly forked worker: the cost a batch pays for
        # each worker it adds to the pool
        spark = get_spark("bench-extra-fresh-worker", cpus=cpus,
                          extra={"spark.python.daemon.module": daemon,
                                 "spark.python.worker.reuse": "false"})
        try:
            df = spark.range(100, numPartitions=1).mapInArrow(
                first_task, "fork_to_udf_ms double, udf_to_first_kernel_ms double")
            rows = [df.collect()[0] for _ in range(tasks + 1)][1:]  # 0: daemon start
            fork = median(r.fork_to_udf_ms for r in rows)
            kernel = median(r.udf_to_first_kernel_ms for r in rows)
            res["fresh_worker"] = {"fork_to_udf_ms_p50": round(fork, 1),
                                   "udf_to_first_kernel_ms_p50": round(kernel, 1),
                                   "fork_to_first_kernel_ms_p50": round(median(
                                       r.fork_to_udf_ms + r.udf_to_first_kernel_ms
                                       for r in rows), 1)}
        finally:
            spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["suite", "plans", "build", "wand",
                                    "format", "single", "upserted",
                                    "task_overhead"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    names = a.names or NAMES
    if a.cmd == "suite":
        cmd_suite(names, reps=a.reps or 1)
    elif a.cmd == "plans":
        cmd_plans(names, a.tag)
    elif a.cmd == "task_overhead":
        cmd_task_overhead(tasks=a.reps or 30, cpus=a.cpus or 1)
    elif a.cmd == "wand":
        cmd_wand(seed=a.seed, reps=a.reps or 5,
                 cpus=min(a.cpus or 8, os.cpu_count() or 1))
    elif a.cmd == "single":
        cmd_single(seed=a.seed, reps=a.reps or 10,
                   cpus=min(a.cpus or 8, os.cpu_count() or 1))
    elif a.cmd == "upserted":
        cmd_upserted(reps=a.reps or 8, cpus=min(a.cpus or 4, os.cpu_count() or 1))
    elif a.cmd == "format":
        cmd_format(seed=a.seed, reps=a.reps or 5,
                   cpus=min(a.cpus or 8, os.cpu_count() or 1))
    else:
        cmd_build(cpus=a.cpus or 8, reps=a.reps or 1)

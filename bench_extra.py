"""Round-6 optimization harness (bench.py is FROZEN for measurement; this
file exists for guide §1.4-style isolation work and is NOT part of the
driver's timing).

Subcommands:
  suite [names...]      time the bench suite queries exactly like
                        bench._bench_sf_queries (first-pass count() at
                        $SPARK_GRAFT_CPUS over $SPARK_GRAFT_SF_DIR);
                        default = all 30 suite names.  --reps N repeats
                        each query N times in-process and prints all.
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
    spark, entrymod = _spark()
    out = {}
    try:
        for name in names:
            fn = getattr(entrymod, f"q_{name}")
            ts = []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"suite:{name}")
                t0 = time.time()
                n = fn(spark, SF_DIR).count()
                ts.append(round(time.time() - t0, 3))
            out[name] = ts if reps > 1 else ts[0]
            print(f"{name}: {ts} (rows={n})", file=sys.stderr, flush=True)
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


def cmd_wand(seed=7, reps=5, cpus=4):
    import shutil
    from statistics import median

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    from elasticsearch_data_import_handler_spark.operators import wand
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        query_terms_df)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.queryset import query_terms
    from elasticsearch_data_import_handler_spark.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    from gen import Inputs

    work = os.path.join(REPO, ".bench", f"wand_seed{seed}")
    inp = Inputs(os.path.join(work, "perfbench"), seed)
    corpus, reqs = inp.search_corpus(), inp.search_requests()
    queries = reqs["batch"][0]["queries"]
    groups_dir = os.path.join(work, "groups")
    spark = get_spark("bench-extra-wand", cpus=cpus)
    try:
        idx = os.path.join(work, "idx")
        shutil.rmtree(idx, ignore_errors=True)
        build_index(spark, spark.read.parquet(corpus), idx)
        reader = IndexReader(spark, idx)
        avgdl = reader.avgdl_value()
        rows = [(q, t, k) for q, text, k in queries for t in query_terms(text)]
        scored, _ = wand._scorer_input(spark, reader, query_terms_df(spark, rows))
        scored.write.mode("overwrite").parquet(groups_dir)
    finally:
        spark.stop()
    table = pads.dataset(groups_dir).to_table()
    qb, salt = table["__qbucket"].to_numpy(), table["salt"].to_numpy()
    groups = [table.filter(pa.array((qb == b) & (salt == s)))
              for b, s in sorted(set(zip(qb.tolist(), salt.tolist())))]

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
            wand._score_group(g, None, avgdl)
    finally:
        wand.decode_posting_runs = run
    secs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for g in groups:
            wand._score_group(g, None, avgdl)
        secs.append(time.perf_counter() - t0)
    s = median(secs)
    print(json.dumps({
        "seed": seed, "queries": len(queries), "groups": len(groups),
        "rows": table.num_rows,
        "postings_in_groups": int(pc.sum(table["n_docs"]).as_py()),
        "postings_decoded": decoded, "kernel_s": [round(x, 4) for x in secs],
        "ns_per_decoded_posting": round(1e9 * s / max(1, decoded), 1),
        "groups_per_s": round(len(groups) / s, 1)}))


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["suite", "plans", "build", "wand"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=None)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    names = a.names or NAMES
    if a.cmd == "suite":
        cmd_suite(names, reps=a.reps or 1)
    elif a.cmd == "plans":
        cmd_plans(names, a.tag)
    elif a.cmd == "wand":
        cmd_wand(seed=a.seed, reps=a.reps or 5,
                 cpus=min(a.cpus, os.cpu_count() or 1))
    else:
        cmd_build(cpus=a.cpus, reps=a.reps or 1)

"""Python-oracle tests for the non-SQL-expressible ops: MinHash-LSH accuracy
vs exact Jaccard, SimHash locality, LSH-ANN recall vs brute force."""

import numpy as np
from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash,
    simhash_neardup_pairs,
)
from elasticsearch_data_import_handler_spark.operators.similarity import (
    cosine_topk,
    lsh_bucketed_topk,
)


def _exact_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_minhash_estimates_true_jaccard(spark):
    """Near-dup pairs (planted) must be found and est_jaccard ≈ true jaccard."""
    base = ("spark sql join filter scan merge sort hash table index query row "
            "column data stream batch window agg group order key value " * 4)
    rows = []
    for i in range(20):
        rows.append((i, base + f" unique{i} marker{i} tail{i}"))
    # plant two near-dups of doc 0
    rows.append((100, base + " unique0 marker0 changed"))
    rows.append((101, base + " unique0 altered tail0"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, num_hashes=64, bands=16,
                              jaccard_threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs}
    assert (0, 100) in found and (0, 101) in found
    texts = dict(rows)
    for (a, b), est in found.items():
        true = _exact_jaccard(texts[a], texts[b])
        assert abs(est - true) < 0.25, f"({a},{b}): est {est} vs true {true}"
        assert true > 0.3  # no wildly-false positives at threshold 0.5


def test_simhash_locality(spark):
    """Identical docs → identical fingerprints; near-identical → small Hamming
    distance; unrelated → large."""
    base = " ".join(f"t{i}" for i in range(200))
    df = spark.createDataFrame(
        [(0, base), (1, base), (2, base + " extra token"),
         (3, " ".join(f"z{i}" for i in range(200)))],
        "doc_id long, text string")
    sims = {r["id"]: r["sim"] for r in simhash(df).collect()}
    assert sims[0] == sims[1]
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(sims[0], sims[2]) <= 8
    assert ham(sims[0], sims[3]) > 16


def test_simhash_neardup_pairs_finds_planted(spark):
    base = " ".join(f"t{i}" for i in range(300))
    rows = [(0, base), (1, base + " x"), (2, " ".join(f"q{i}" for i in range(300)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_neardup_pairs(df, max_hamming=6).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, n_queries=5, k=10).collect()
    approx = lsh_bucketed_topk(emb, n_queries=5, k=10, n_planes=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    got_sets = {}
    for r in approx:
        got_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q] & got_sets.get(q, set())) / len(exact_sets[q])
               for q in exact_sets]
    assert np.mean(recalls) >= 0.25, f"mean LSH recall too low: {recalls}"
    # approx results are a subset relation on cos: every returned cos must
    # be ≤ the exact rank-1 cos for that query
    best = {r["query_id"]: r["cos"] for r in exact if r["rank"] == 1}
    for r in approx:
        assert r["cos"] <= best[r["query_id"]] + 1e-9


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    """IVF with n_probe=4 of ~16 cells must recover most of the exact top-10
    (same bar as the LSH variant) and never return a non-candidate id."""
    from elasticsearch_data_import_handler_spark.operators.similarity import (
        ivf_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, n_queries=5, k=10).collect()
    approx = ivf_topk(emb, n_queries=5, k=10, n_probe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx:
        assert r["vec_id"] >= 5
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
               for q in exact_sets]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_minhash_verified_subset_of_exact(spark, sf_dir):
    """Verified pairs must be exactly the LSH-candidate ∩ true-Jaccard≥t set:
    every returned pair's jaccard is ≥ t and matches the exact operator."""
    from elasticsearch_data_import_handler_spark.operators.dedup import (
        minhash_verified_pairs, ngram_jaccard_pairs)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    ver = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           minhash_verified_pairs(docs, n=3, jaccard_threshold=0.3).collect()}
    # exact jaccard over ALL pairs (single bucket) at the same n
    allp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            ngram_jaccard_pairs(docs.withColumn("one", F.lit(1)), ["one"],
                                n=3, threshold=0.3).collect()}
    for pair, j in ver.items():
        assert pair in allp and abs(allp[pair] - j) < 1e-6  # op rounds to 6dp


def test_ivf_trained_recall_at_least_closed_form(spark, sf_dir):
    """The k-means-trained coarse quantizer must recall at least as much of
    the exact top-10 as the round-2 closed-form stand-in (ids % 31 == 6),
    and its assignment stage must plan as a kernel + equi-joins — no
    crossJoin of all vectors x centroids, no nested-loop join."""
    from elasticsearch_data_import_handler_spark.operators.similarity import (
        ivf_topk, quantized_vec)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, n_queries=5, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    def mean_recall(rows):
        sets = {}
        for r in rows:
            sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(exact_sets[q] & sets.get(q, set())) / len(exact_sets[q])
                   for q in exact_sets) / len(exact_sets)

    # closed-form quantizer via the centroids override
    cf = np.array([list(r["q"]) for r in
                   emb.filter((F.col("vec_id") >= 5)
                              & (F.col("vec_id") % 31 == 6))
                   .select(quantized_vec().alias("q"))
                   .orderBy("vec_id").collect()], dtype=np.int64)
    trained_df = ivf_topk(emb, n_queries=5, k=10, n_probe=4)
    r_trained = mean_recall(trained_df.collect())
    r_cf = mean_recall(
        ivf_topk(emb, n_queries=5, k=10, n_probe=4, centroids=cf).collect())
    assert r_trained >= r_cf, (r_trained, r_cf)
    plan = trained_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pq_recall_and_plan(spark, sf_dir):
    """IVF-PQ (residual product quantization + integer ADC + exact re-rank
    of the ADC top-80) must recall at least as much of the exact top-10 as
    the raw-vector ivf_topk at the same (n_probe, k_cells) — the re-rank
    window is what recall is bought with — return only candidate ids, and
    plan without any cartesian product (assignment/ADC are Arrow kernels +
    equi-joins)."""
    from elasticsearch_data_import_handler_spark.operators.similarity import (
        ivf_pq_topk, ivf_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, n_queries=5, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    def mean_recall(rows):
        sets = {}
        for r in rows:
            sets.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(exact_sets[q] & sets.get(q, set())) / len(exact_sets[q])
                   for q in exact_sets) / len(exact_sets)

    pq_df = ivf_pq_topk(emb, n_queries=5, k=10, n_probe=4, k_cells=16,
                        iters=3, M=8, k_pq=16, pq_iters=1, refine=80)
    plan = pq_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    pq_rows = pq_df.collect()
    for r in pq_rows:
        assert r["vec_id"] >= 5
    ivf_rows = ivf_topk(emb, n_queries=5, k=10, n_probe=4, k_cells=16,
                        iters=3).collect()
    # ADC is lossy: at refine=8k allow a whisker under raw-vector IVF
    assert mean_recall(pq_rows) >= mean_recall(ivf_rows) - 0.05
    # ...but with the re-rank window covering the whole candidate pool the
    # two are the SAME algorithm (exact cosine over identical probed cells):
    # result sets must be identical, proving ADC only reorders, never
    # corrupts, the candidate set
    pq_full = ivf_pq_topk(emb, n_queries=5, k=10, n_probe=4, k_cells=16,
                          iters=3, M=8, k_pq=16, pq_iters=1,
                          refine=10**6).collect()
    assert ({(r["query_id"], r["vec_id"], r["cos"]) for r in pq_full}
            == {(r["query_id"], r["vec_id"], r["cos"]) for r in ivf_rows})


def test_ivf_pq_codes_shape(spark, sf_dir):
    """The PQ code table (the persisted 100-TB artifact) must carry exactly
    M codes per vector, each in [0, k_pq) — M bytes/vector is the memory
    story.  ``_pq_codes_rows`` is the kernel ``ivf_pq_topk`` runs."""
    from elasticsearch_data_import_handler_spark.operators.similarity import (
        _assign_cells, _pq_codes_rows, _residuals, kmeans_centroids,
        pq_codebooks)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    C = kmeans_centroids(emb, k=16, iters=1, n_queries=5)
    cand = emb.filter(F.col("vec_id") >= 5)
    cells = (_assign_cells(cand, C, n_probe=1, id_col="vec_id",
                           vec_col="embedding")
             .filter(F.col("crank") == 1).select("vec_id", "cell"))
    res = _residuals(cand, cells, C, "vec_id", "embedding")
    CB = pq_codebooks(res, M=8, k_pq=16, iters=1)
    assert CB.shape == (8, 16, 8)
    codes = _pq_codes_rows(res, CB).collect()
    assert sorted(r["id"] for r in codes) == sorted(
        r["vec_id"] for r in cand.select("vec_id").collect())
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        line_dedup)

    docs = spark.createDataFrame(
        [("d1", "COOKIE BANNER\nunique alpha line\n\nunique beta line\nfooter"),
         ("d2", "COOKIE BANNER\nonly in d2\nfooter"),
         ("d3", "  COOKIE BANNER \nsolo gamma\n"),
         ("d4", "COOKIE BANNER\nfooter")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in line_dedup(docs, min_df=2).collect()}
    # boilerplate (banner appears in 4 docs incl. whitespace-padded, footer
    # in 3) is gone from every doc; unique lines survive in original order
    assert out["d1"]["text"] == "unique alpha line\n\nunique beta line"
    assert out["d1"]["n_lines_kept"] == 3       # blank line kept verbatim
    assert out["d1"]["n_lines_removed"] == 2
    assert out["d2"]["text"] == "only in d2"
    # trailing '' from the split is a blank line, kept
    assert out["d3"]["text"] == "solo gamma\n"
    assert out["d3"]["n_lines_removed"] == 1
    # every line boilerplate -> empty doc, not NULL
    assert out["d4"]["text"] == ""
    assert out["d4"]["n_lines_kept"] == 0
    assert out["d4"]["n_lines_removed"] == 2


def test_line_dedup_min_df_threshold(spark):
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        line_dedup)

    docs = spark.createDataFrame(
        [("a", "pair line\nown a"), ("b", "pair line\nown b"),
         ("c", "own c\nown c")],  # same line twice in ONE doc: df=1, kept
        ["doc_id", "text"])
    out = {r["doc_id"]: r["text"] for r in
           line_dedup(docs, min_df=2).collect()}
    assert out["a"] == "own a" and out["b"] == "own b"
    assert out["c"] == "own c\nown c"


def test_neardup_clusters_transitive_components(spark):
    from elasticsearch_data_import_handler_spark.operators.dedup import (
        neardup_clusters)

    # chain 1-2-3-4 (transitive), pair 10-11, long path 20..26 step pairs
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11)] + \
        [(i, i + 1) for i in range(20, 26)]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = {r["doc_id"]: r for r in neardup_clusters(df).collect()}
    assert {out[i]["cluster_id"] for i in (1, 2, 3, 4)} == {1}
    assert out[1]["is_canonical"] and not out[4]["is_canonical"]
    assert out[1]["cluster_size"] == 4
    assert out[10]["cluster_id"] == out[11]["cluster_id"] == 10
    # 7-node path exercises >1 propagation round (pointer-jump acceleration)
    assert {out[i]["cluster_id"] for i in range(20, 27)} == {20}
    assert out[26]["cluster_size"] == 7
    assert sum(1 for r in out.values() if r["is_canonical"]) == 3


def test_neardup_clusters_releases_superseded_rounds(spark):
    """Each round's labels checkpoint is released once the next round has
    materialized: only the checkpoint the returned frame reads stays."""
    from elasticsearch_data_import_handler_spark.operators.dedup import (
        neardup_clusters)

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    # a 200-node path needs several pointer-jumping rounds to converge
    df = spark.createDataFrame([(i, i + 1) for i in range(199)],
                               ["id_a", "id_b"])
    out = neardup_clusters(df)  # holds the one checkpoint it reads
    rows = out.collect()
    assert len(rows) == 200 and {r["cluster_id"] for r in rows} == {0}
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1


def test_dup_span_fraction_coverage_union(spark):
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        dup_span_fraction)

    shared = "a b c d e f g h"          # 8 tokens shared by d1/d2
    docs = spark.createDataFrame(
        [("d1", shared + " x1 y1 z1 w1"),   # 12 tokens, spans at pos 0..4
         ("d2", "p2 q2 " + shared),         # 10 tokens
         ("d3", "unique words only here nothing shared at all ok fine")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dup_span_fraction(docs, window=4, min_df=2).collect()}
    # d1: windows at pos 0..4 of the shared run are duplicated (pos 4 window
    # 'e f g h' also in d2); union covers tokens 0..7 => 8 covered of 12
    assert out["d1"]["n_dup_windows"] == 5
    assert out["d1"]["covered_tokens"] == 8
    assert abs(out["d1"]["dup_fraction"] - 8 / 12) < 1e-6
    assert out["d2"]["covered_tokens"] == 8
    assert out["d3"]["n_dup_windows"] == 0
    assert out["d3"]["dup_fraction"] == 0.0


def test_neardup_clusters_property_vs_union_find(spark):
    """Property check: on md5-seeded random graphs the distributed
    components equal a pure-Python union-find ground truth exactly."""
    import hashlib

    from elasticsearch_data_import_handler_spark.operators.dedup import (
        neardup_clusters)

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    for seed, n_nodes, n_edges in ((1, 40, 30), (2, 60, 80), (3, 25, 12)):
        pairs = [((h(seed * 1000 + i) % n_nodes),
                  (h(seed * 2000 + i) % n_nodes)) for i in range(n_edges)]
        pairs = [(a, b) for a, b in pairs if a != b]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {a for p in pairs for a in p}
        want = {x: find(x) for x in touched}
        # canonical = min member of the component
        comp_min = {}
        for x, r in want.items():
            comp_min.setdefault(r, x)
            comp_min[r] = min(comp_min[r], x)
        want_lab = {x: comp_min[find(x)] for x in touched}

        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        got = {r["doc_id"]: r["cluster_id"]
               for r in neardup_clusters(df).collect()}
        assert got == want_lab, f"seed {seed}"


def test_knn_similarity_threshold(spark, sf_dir):
    """ES knn `similarity`: below-threshold vectors are not matches — the
    filtered top-k equals the unfiltered one with sub-threshold hits
    REMOVED and ranks recompacted (never just truncated)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    full = cosine_topk(emb, n_queries=2, k=10)
    thr = sorted(r["cos"] for r in full.collect())[len(full.collect()) // 2]
    cut = cosine_topk(emb, n_queries=2, k=10, similarity=thr)
    got = [(r["query_id"], r["vec_id"], r["cos"])
           for r in cut.orderBy("query_id", "rank").collect()]
    want = []
    for qid in (0, 1):
        kept = [(r["vec_id"], r["cos"]) for r in
                full.filter(F.col("query_id") == qid)
                .orderBy("rank").collect() if r["cos"] >= thr]
        want += [(qid, v, c) for v, c in kept]
    assert got == want and got
    assert all(r["cos"] >= thr for r in cut.collect())

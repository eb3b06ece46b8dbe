"""Physical-plan assertions: the optimizations we designed for must actually
appear in the executed plans (pushdown, pruning, broadcast, codegen)."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= F.lit("1996-01-01").cast("timestamp")) \
          .select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema is just the 3 referenced columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:400]


def test_bm25_join_scorer_broadcasts_query_side(spark, sf_dir):
    import __spark_entry__ as m

    df = m.q_bm25_topk(spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan only after execution
    plan = _plan(df)
    assert "BroadcastExchange" in plan  # query terms + lexicon side
    assert "*(" in plan  # WholeStageCodegen spans render as *(n) markers


def test_postings_scan_partition_pruning(spark, tmp_path):
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path / "idx")
    build_index(spark, synth_pages(spark, 150, seed=42), d, tau=100, n_buckets=4)
    reader = IndexReader(spark, d)
    df = reader.postings_for_terms(["spark"])
    from elasticsearch_data_import_handler_spark.functions.hashing import xxhash64_str

    bucket = xxhash64_str("spark") % 4
    # the bucket predicate must land in PartitionFilters (pruned at planning
    # time, never scanned), not in post-scan Filter
    scan = _plan(df)
    pf = scan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in pf, scan
    rows = df.collect()
    assert rows and all(r["bucket"] == bucket for r in rows)


def test_dedup_latest_single_shuffle(spark):
    from elasticsearch_data_import_handler_spark.operators.dedup import dedup_latest
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    plan = _plan(dedup_latest(synth_pages(spark, 100, seed=42)))
    # exactly one exchange: the window partition by url
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_signature_stays_codegen_and_single_agg_shuffle(spark, sf_dir):
    """The 64 KM min-aggregates must run as one partial+final hash aggregate
    (map-side combine) inside whole-stage codegen — no interpreted HOFs in
    the signature stage."""
    from elasticsearch_data_import_handler_spark.operators.dedup import (
        minhash_signatures, shingles_exploded)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = minhash_signatures(shingles_exploded(docs), 64)
    plan = _plan(sig)
    # map-side combine: partial_min aggregates before the exchange
    assert "partial_min" in plan
    # shingle window (by id) + the signature agg share the id partitioning →
    # Spark reuses it: exactly ONE exchange in the whole signature pipeline
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cosine_topk_broadcastless_single_pass(spark, sf_dir):
    """matmul path: one scan of the candidate side, no join/exchange before
    the mapInPandas kernel (query matrix travels in the closure)."""
    from elasticsearch_data_import_handler_spark.operators.similarity import (
        cosine_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_topk(emb, n_queries=5, k=10)
    plan = _plan(df)
    head = plan.split("MapInPandas")[0] if "MapInPandas" in plan else plan
    # everything above the kernel is window/topk; the kernel's child must be
    # the scan with no shuffle in between
    below = plan.split("MapInPandas")[-1]
    assert "Exchange" not in below, plan


def test_upsert_merge_scans_only_affected_partitions(spark, tmp_path):
    """The merge's existing-side scan must read only the affected __pkey
    dirs (partition-scoped read), visible as a small InputFileBlock set."""
    import glob

    from elasticsearch_data_import_handler_spark.app import (
        UPSERT_PARTITIONS, upsert_table)

    target = str(tmp_path / "t")
    base = spark.range(400).select(F.col("id").alias("k"),
                                   (F.col("id") * 2).alias("v"))
    upsert_table(base, target, "k")
    # all partitions materialized
    assert len(glob.glob(f"{target}/__pkey=*")) == UPSERT_PARTITIONS
    one = spark.createDataFrame([(3, 0)], "k long, v long")
    upsert_table(one, target, "k")
    # correctness of the merge (other partitions' rows intact)
    assert spark.read.parquet(target).count() == 400


def test_wand_cogrouped_tombstones_no_driver_collect(spark, tmp_path):
    """Tombstone delivery to the WAND scorer is a cogroup (FlatMapCoGroups
    in the plan), not a driver-side set in the UDF closure."""
    from elasticsearch_data_import_handler_spark.operators.wand import (
        bm25_topk_wand)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_incremental)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path / "idx2")
    b0 = synth_pages(spark, 200, seed=42, batches=2, batch=0)
    b1 = synth_pages(spark, 200, seed=42, batches=2, batch=1)
    build_incremental(spark, [b0, b1], d, tau=100, n_buckets=4)
    reader = IndexReader(spark, d)
    assert reader.tombstones_df() is not None  # upserts created tombstones
    df = bm25_topk_wand(spark, reader)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed range join must plan as a hash equi-join on the bucket
    key — a naive range predicate would be BroadcastNestedLoopJoin."""
    from elasticsearch_data_import_handler_spark.operators.rangejoin import (
        interval_join)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    epoch = F.col("ts").cast("timestamp").cast("long")
    p = ev.filter("event_type = 'purchase'").select(
        "user_id", "event_id", epoch.alias("t"))
    v = ev.filter("event_type = 'view'").select(
        F.col("user_id").alias("user_id"), epoch.alias("t"))
    out = interval_join(p, v, on="t", lower=0, upper=3600, by="user_id")
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan  # an actual (hash/sort-merge) equi join
    # exact-range semantics vs a driver-side pandas check
    import pandas as pd
    pp, vv = p.toPandas(), v.toPandas()
    m = pp.merge(vv, on="user_id", suffixes=("", "_r"))
    exp = m[(m["t_r"] >= m["t"]) & (m["t_r"] <= m["t"] + 3600)]
    assert out.count() == len(exp)


def test_pack_sequences_no_global_window(spark):
    """The packing prefix sum must stay distributed: every Window node in
    the plan partitions by a key (the range bucket) — a Window with an
    empty partition spec is the single-partition global scan we designed
    around."""
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        chunk_documents, pack_sequences)

    df = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(200)],
        "doc_id long, text string")
    out = pack_sequences(chunk_documents(df, chunk_size=4, overlap=0),
                         seq_len=16, n_buckets=8)
    plan = _plan(out)
    assert "Window" in plan
    for frag in plan.split("Window [")[1:]:
        spec = frag.split("windowspecdefinition(")[1]
        # spec args: partition cols..., order cols..., frame; an empty
        # partition spec starts directly with the sort order column
        assert spec.split(",")[0].strip().startswith("bucket"), frag[:200]


def test_facet_search_single_postings_decode(spark, tmp_path):
    """All facets stack through one explode over ONE scored-candidate plan:
    the varbyte postings decode kernel (FlatMapGroupsInPandas/MapInPandas)
    appears exactly once — a per-facet UNION would re-run the scorer."""
    from elasticsearch_data_import_handler_spark.operators.search import (
        facet_search)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path / "idx")
    build_index(spark, synth_pages(spark, 120, seed=42), d, tau=100,
                n_buckets=4)
    reader = IndexReader(spark, d)
    from pyspark.sql import functions as F
    meta = reader.doc_stats().select(
        "doc_id", F.substring("url", 1, 6).alias("site"),
        (F.col("doc_len") % 3).cast("string").alias("len_band"))
    out = facet_search(spark, reader, meta, ["site", "len_band"],
                       must=["spark"])
    plan = _plan(out)
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Generate explode") == 1, plan


@pytest.fixture(scope="module")
def taat_reader(spark, tmp_path_factory):
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path_factory.mktemp("taat_idx"))
    build_index(spark, synth_pages(spark, 120, seed=42), d, tau=100,
                n_buckets=4)
    return IndexReader(spark, d)


@pytest.mark.parametrize("scorer", ["bool", "dis_max", "terms_set"])
def test_dis_max_single_aggregation_exchange(spark, taat_reader, scorer):
    """The TAAT scorers read IndexReader.term_contribs and compute every
    clause flag / conditional sum in ONE groupBy(doc_id): one decode pass,
    exactly one hash exchange in the whole plan (lexicon broadcast, avgdl
    a literal), and no BroadcastNestedLoopJoin."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query, dis_max_query, terms_set_query)

    reader = taat_reader
    if scorer == "bool":
        df = bool_query(spark, reader, must=[["spark", "sql"]],
                        should=["merge", "index"])
    elif scorer == "dis_max":
        df = dis_max_query(spark, reader, [["spark", "sql"], ["merge"], "index"])
    else:
        df = terms_set_query(spark, reader, ["spark", "merge", "batch"],
                             required=2)
    plan = _plan(df)
    assert plan.count("MapInPandas") == 1, plan      # one decode pass
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The eval-gram set must broadcast; the corpus side shuffles only for
    the shingle window (by doc), never for the join."""
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        contamination_check)

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over") for i in range(50)],
        "doc_id long, text string")
    plan = _plan(contamination_check(df, ["the quick brown fox"], n=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kmv_prereduce_bounds_the_shuffle(spark):
    """The KMV sketch must pre-reduce map-side: MapInPandas runs BELOW the
    one exchange (so the shuffle carries <= k rows per group per partition,
    never the distinct set), and there is exactly one exchange."""
    from elasticsearch_data_import_handler_spark.operators.sketches import (
        kmv_distinct)

    df = (spark.range(10_000)
          .select((F.col("id") % 3).alias("g"), F.col("id").alias("v"))
          .repartition(8))
    plan = _plan(kmv_distinct(df, "g", "v", k=64))
    # one shuffle: the groupBy(grp) for the final merge
    assert plan.count("Exchange hashpartitioning") == 1
    pre, post = plan.split("Exchange hashpartitioning", 1)
    # physical plans print top-down: the pre-reduce MapInPandas must appear
    # AFTER the exchange line (= executes below it, on the map side)
    assert "MapInPandas" in post, plan
    assert "FlatMapGroupsInPandas" in pre, plan


def test_cap_per_key_precap_is_local_and_single_shuffle(spark, sf_dir):
    """The pre-cap stage must not add an exchange: local sort + streaming
    MapInPandas below the single per-key window shuffle, and the result
    must equal the no-precap window exactly."""
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        cap_per_key)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(8)
    capped = cap_per_key(docs, "source", 3)
    plan = _plan(capped)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the local sort + MapInPandas sit below (printed after) the exchange
    below = plan.split("Exchange hashpartitioning", 1)[1]
    assert "MapInPandas" in below and "Sort" in below, plan
    want = sorted(r["doc_id"] for r in
                  cap_per_key(docs, "source", 3, precap=False).collect())
    assert sorted(r["doc_id"] for r in capped.collect()) == want


def test_significant_terms_window_is_limit_bounded(spark, tmp_path):
    """The rank window must sit above a distributed TakeOrdered cut
    (GlobalLimit/TakeOrderedAndProject before the Window), so the
    single-partition window only ever sees ≤ size rows — never the full
    foreground vocabulary."""
    from elasticsearch_data_import_handler_spark.operators.search import (
        significant_terms)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path / "idx")
    build_index(spark, synth_pages(spark, 120, seed=42), d, tau=100,
                n_buckets=4)
    reader = IndexReader(spark, d)
    df = significant_terms(spark, reader, must=["spark"], size=5,
                           min_doc_count=1, materialize=False)
    plan = _plan(df)
    assert "Window" in plan, plan
    # plans print top-down: everything ABOVE (before) the Window node must
    # include the limit cut that bounds its input
    above = plan.split("Window", 1)[1]
    assert ("TakeOrderedAndProject" in above or "GlobalLimit" in above), plan


def test_suggest_terms_neighborhood_keyed_and_limit_bounded(spark, sf_dir):
    """The suggester's candidate scan must be SymSpell-neighborhood-keyed
    (arrays_overlap filter on deletion variants — Levenshtein runs on
    candidates only), and the rank window must sit above a TakeOrdered
    cut."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        suggest_terms)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = suggest_terms(docs, "dat", max_dist=2, size=5)
    plan = _plan(df)
    assert "arrays_overlap" in plan, plan
    below_window = plan.split("Window", 1)[1]
    assert ("TakeOrderedAndProject" in below_window
            or "GlobalLimit" in below_window), plan


def test_multi_match_single_combine_no_extra_exchange(spark, tmp_path):
    """multi_match must combine field legs with ONE groupBy(doc_id) — the
    union of per-field TAAT legs, each with its broadcast lexicon, and no
    remapping join between fields (shared version doc_ids)."""
    from elasticsearch_data_import_handler_spark.operators.search import (
        multi_match)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import (
        synth_pages)

    pages = synth_pages(spark, 150, seed=42)
    title = F.array_join(
        F.slice(F.regexp_extract_all(F.lower("text"),
                                     F.lit("[a-z0-9]+"), 0), 1, 8), " ")
    dirs = {}
    for field, p in (("body", pages), ("title", pages.withColumn("text", title))):
        d = str(tmp_path / field)
        build_index(spark, p, d, tau=100, n_buckets=4)
        dirs[field] = d
    readers = {f: IndexReader(spark, d) for f, d in dirs.items()}
    df = multi_match(spark, readers, ["spark", "merge"],
                     match_type="best_fields", tie_breaker=0.3)
    df.collect()  # AQE finalizes the plan
    # AQE prints final + initial plans; read only the final section
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastExchange" in plan  # lexicon/avgdl sides stay broadcast
    # exactly one exchange per field leg's groupBy(doc_id); the final
    # best/total combine REUSES that partitioning (no third shuffle) and
    # there is no join-chain between field frames
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_geo_box_predicates_push_to_scan(spark, sf_dir):
    """geo_distance's sargable bounding-box pre-filter must reach the
    parquet scan as pushed range predicates on the coordinate columns —
    the point of bracketing the circle before any trig runs."""
    from elasticsearch_data_import_handler_spark.operators.geo import geo_distance

    cu = spark.read.parquet(f"{sf_dir}/customer.parquet")
    pts = cu.select(
        "c_custkey",
        (F.col("c_acctbal") / 1000.0).alias("lat"),
        (F.col("c_acctbal") / 500.0).alias("lon"))
    df = geo_distance(pts, "lat", "lon", 5.0, 10.0, 60000.0)
    plan = _plan(df)
    # derived columns can't push past the projection, but the box filter
    # itself must be a plain range Filter below the haversine projection,
    # i.e. the trig appears ABOVE the comparison filter in the plan
    assert "Filter" in plan
    # when the coordinates are raw scan columns the ranges push all the way
    raw = cu.withColumnRenamed("c_acctbal", "lat").withColumn(
        "lon", F.col("c_custkey").cast("double"))
    df2 = geo_distance(raw, "lat", "lon", 5.0, 10.0, 600000.0)
    plan2 = _plan(df2)
    # Catalyst rewrites the box ranges through the rename back to the
    # underlying scan column — that's the pushdown we designed for
    assert "PushedFilters" in plan2, plan2
    assert "GreaterThanOrEqual(c_acctbal" in plan2, plan2


def test_collapse_global_window_is_limit_bounded(spark, sf_dir):
    """collapse_hits: the per-group window is partitioned (no global sort),
    and the global rank window sits above a TakeOrdered cut of k rows."""
    from elasticsearch_data_import_handler_spark.operators.search import (
        collapse_hits)

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    scored = od.select(F.col("o_orderkey").alias("doc_id"),
                       F.col("o_totalprice").alias("score"))
    meta = od.select(F.col("o_orderkey").alias("doc_id"),
                     F.col("o_orderpriority").alias("prio"))
    df = collapse_hits(scored, meta, "prio", k=3, inner_size=2)
    plan = _plan(df)
    first_window_above = plan.split("Window", 1)[0]
    # the global (unpartitioned) rank window appears first in the top-down
    # print; everything feeding it must include the limit cut
    rest = plan.split("Window", 1)[1]
    assert "TakeOrderedAndProject" in rest or "GlobalLimit" in rest, plan
    # the per-group window is partitioned by the collapse field
    assert "partitionBy" not in first_window_above  # sanity: split worked
    assert plan.count("Window") >= 2, plan


def test_percolate_is_join_based_no_cartesian(spark):
    """Percolation must be a term-keyed equi-join — never a docs × queries
    nested-loop/cartesian product."""
    from elasticsearch_data_import_handler_spark.operators.percolate import (
        percolate, query_term_index)

    queries = spark.createDataFrame(
        [("q1", ["spark"], None, ["vector"], None),
         ("q2", None, ["merge", "batch"], None, 1)],
        "query_id string, must array<string>, should array<string>, "
        "must_not array<string>, min_should int")
    docs = spark.createDataFrame(
        [(1, "spark"), (1, "merge"), (2, "vector")], "doc_id int, term string")
    df = percolate(queries, docs, qindex=query_term_index(queries, validate=False))
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the requirements side is broadcast (bounded by |queries|)
    assert "BroadcastExchange" in plan, plan


def test_positions_scan_partition_pruning(spark, tmp_path):
    """positions_for_terms (the span/phrase family's scan) must prune to
    the term's hash bucket at planning time, like the postings scan."""
    from elasticsearch_data_import_handler_spark.functions.hashing import (
        xxhash64_str)
    from elasticsearch_data_import_handler_spark.plans.build import (
        IndexReader, build_index)
    from elasticsearch_data_import_handler_spark.sources.corpus import synth_pages

    d = str(tmp_path / "idx")
    build_index(spark, synth_pages(spark, 120, seed=42), d, tau=100,
                n_buckets=4, positions=True)
    df = IndexReader(spark, d).positions_for_terms(["spark"])
    plan = _plan(df)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "bucket" in pf, plan
    rows = df.collect()
    assert rows


def test_bucket_agg_longtail_plan_shapes(spark):
    """Round-5 agg long-tail: filters is ONE aggregate pass (no
    per-bucket re-aggregation), range's empty-bucket join broadcasts the
    literal bucket list, composite pages via TakeOrdered (cost
    independent of page depth)."""
    from elasticsearch_data_import_handler_spark.operators.search import (
        composite_agg, filters_agg, range_agg)

    scored = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).cast("double")
        .alias("score"))
    meta = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 3)).alias("lang"),
        F.concat(F.lit("s"), (F.col("id") % 11)).alias("source"),
        (F.col("id") % 500).alias("n_chars"))

    fl = filters_agg(scored, meta, {"a": "n_chars >= 100",
                                    "b": "lang = 'l1'",
                                    "c": "source = 's3'"})
    plan = _plan(fl)
    # one partial+final aggregate pair for ALL named buckets — a
    # per-bucket union would show 3x as many HashAggregates
    assert plan.count("HashAggregate") <= 2, plan

    rg = range_agg(scored, meta, "n_chars", [(None, 100), (100, None)])
    plan = _plan(rg)
    assert "BroadcastExchange" in plan  # literal bucket list side

    cp = composite_agg(scored, meta, ["lang", "source"], size=3,
                       after=("l1", "s5"))
    assert "TakeOrderedAndProject" in _plan(cp)


def test_line_dedup_shuffles_hashes_not_line_text(spark):
    """line_dedup's df-count aggregation must shuffle the xxhash64 key, not
    the line text: the pre-shuffle partial aggregate's grouping expressions
    contain only the hash column."""
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        line_dedup)

    docs = spark.createDataFrame(
        [("a", "x\ny"), ("b", "x\nz")], ["doc_id", "text"])
    out = line_dedup(docs, min_df=2)
    out.collect()
    plan = _plan(out)
    # the boilerplate-df branch aggregates count(distinct doc_id) keyed by h
    assert "xxhash64" in plan
    key_sets = [seg.split("keys=[")[1].split("]")[0]
                for seg in plan.split("HashAggregate")[1:] if "keys=[" in seg]
    assert any(ks.startswith("h#") for ks in key_sets), key_sets


def test_dup_span_fraction_single_df_shuffle_on_hash(spark):
    """dup_span_fraction: the duplicated-span df count groups by the span
    HASH (longs on the wire), and the span string column never appears in
    any exchange."""
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        dup_span_fraction)

    docs = spark.createDataFrame(
        [("a", "one two three four five six"),
         ("b", "one two three four seven eight")], ["doc_id", "text"])
    out = dup_span_fraction(docs, window=4, min_df=2)
    out.collect()
    plan = _plan(out)
    assert "xxhash64" in plan
    for ex in plan.split("Exchange")[1:]:
        head = ex.split("\n")[0]
        assert "concat_ws" not in head


def test_neardup_clusters_bounded_rounds_and_no_cartesian(spark):
    from elasticsearch_data_import_handler_spark.operators.dedup import (
        neardup_clusters)

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], ["id_a", "id_b"])
    out = neardup_clusters(pairs, max_iter=6)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    rows = out.collect()
    # 20 two-node components, each canonical = the even (min) id
    assert len(rows) == 40
    assert sum(1 for r in rows if r["is_canonical"]) == 20


def test_search_after_broadcasts_cursor(spark):
    from elasticsearch_data_import_handler_spark.operators.scoring import (
        search_after)

    scored = spark.createDataFrame(
        [(1, i, float(i % 7), 3) for i in range(50)],
        ["query_id", "doc_id", "score", "k"])
    cur = spark.createDataFrame([(1, 5.0, 10)], ["query_id", "cs", "cid"])
    out = search_after(scored, cur)
    out.collect()
    plan = _plan(out)
    assert "BroadcastExchange" in plan

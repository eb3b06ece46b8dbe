"""Deduplication operators: C1 latest-wins + training-data dedup family.

C1 ``dedup_latest`` reproduces the reference's sink semantics: the es-hadoop
bulk write with ``es.mapping.id = idField`` makes imports idempotent per key,
*last write wins* (SURVEY.md §2A A9).  Without it, incremental re-crawls
would double-count documents and silently change BM25 scores.

The rest is the large-corpus training-data dedup family: exact content dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard.  All are declarative
DataFrame ops (shuffle-by-key + window / self-join on LSH buckets); the only
Python is inside vectorized pandas UDFs where a hash kernel is needed.

Scale notes: every variant shuffles on a bounded-cardinality key (url,
content hash, LSH bucket). LSH bucket joins avoid the O(n²) pair explosion —
the candidate-pair count is Σ_bucket |bucket|², controlled by band width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def dedup_latest(pages: DataFrame, key: str = "url", order: str = "warc_ts",
                 tie_cols: list[str] | None = None) -> DataFrame:
    """One row per key; greatest ``order`` wins; ties broken deterministically
    by ``tie_cols`` (default: xxhash64(html) when present) (C1).  Single
    shuffle on the key."""
    if tie_cols:
        ties = [F.desc(c) for c in tie_cols]
    elif "html" in pages.columns:
        ties = [F.desc(F.xxhash64("html"))]
    else:
        ties = []
    w = Window.partitionBy(key).orderBy(F.desc(order), *ties)
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: keep the smallest id per identical text.

    Hash-groupBy on xxhash64(text) — the raw text never shuffles, only
    (hash, id), so this survives 100 TB (collision safety: winner chosen per
    full-hash group; at 10^12 docs add a second hash — documented caveat).
    """
    w = Window.partitionBy(F.xxhash64(text_col)).orderBy(F.asc(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles_exploded(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      extra_cols: list[str] | None = None,
                      distinct: bool = False) -> DataFrame:
    """(extra..., id, shingle) — one row per word n-gram occurrence, built
    with posexplode + ``n-1`` lead() windows: everything stays inside
    whole-stage codegen.  (A per-row transform/slice higher-order-function
    variant measured 14× slower — HOF lambdas are interpreted per element.)
    The one shuffle (window by id) is
    the same key the downstream signature/intersection aggregations need.
    ``distinct=True`` dedupes shingles per id (set semantics for Jaccard;
    MinHash skips it — duplicates can't bias a min)."""
    extra = list(extra_cols or [])
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    base = df.select(*extra, F.col(id_col).alias("id"),
                     F.posexplode(toks).alias("pos", "t"))
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("t").alias("t0")] + [
        F.lead("t", i).over(w).alias(f"t{i}") for i in range(1, n)]
    sh = (base.select(*extra, "id", *parts)
          .filter(F.col(f"t{n - 1}").isNotNull())
          .select(*extra, "id",
                  F.concat_ws(" ", *[f"t{i}" for i in range(n)]).alias("shingle")))
    if distinct:
        sh = sh.dropDuplicates(["id", "shingle"])
    return sh


def minhash_hash_seeds(shingle_col):
    """(a, b) 32-bit seeds for the Kirsch–Mitzenmacher double-hash family,
    derived from ONE md5 per shingle: h_i(s) = (a + i·b) mod 2^32 with
    a = md5[0:8], b = md5[8:16] | 1 (odd ⇒ i·b cycles the full ring).
    One cryptographic hash per shingle, 64 codegen'd linear combos — and,
    unlike xxhash64(s, i), bit-reproducible in ANY engine with md5 (the
    driver's DuckDB oracle recomputes identical signatures).
    KM double hashing: Kirsch & Mitzenmacher, ESA'06 (public literature)."""
    m = F.md5(shingle_col)
    a = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(m, 9, 8), 16, 10).cast("long").bitwiseOR(F.lit(1))
    return a, b


def minhash_signatures(shingles: DataFrame, num_hashes: int = 64) -> DataFrame:
    """exploded (id, shingle) rows → (id, sig array<bigint>).

    groupBy(id) with ``num_hashes`` static min-aggregates over the KM family:
    stays inside whole-stage codegen with partial (map-side) min combine —
    the SPIMI trick applied to signatures.  Duplicate shingles can't bias a
    min, so the input needs no distinct."""
    a, b = minhash_hash_seeds(F.col("shingle"))
    ex = shingles.select("id", a.alias("ha"), b.alias("hb"))
    aggs = [F.min((F.col("ha") + F.lit(i) * F.col("hb")) % F.lit(1 << 32))
            .alias(f"h{i}") for i in range(num_hashes)]
    return ex.groupBy("id").agg(*aggs).select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      num_hashes: int = 64, bands: int = 16,
                      jaccard_threshold: float = 0.8,
                      hash_band_key: bool = True) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs with estimated Jaccard.

    shingle → minhash → band → bucket self-join (the classic MMDS ch.3
    pipeline).  Returns (id_a, id_b, est_jaccard) with id_a < id_b,
    est_jaccard = fraction of matching minhash components ≥ threshold.
    Shuffles only on (band, bucket_hash); candidate pairs are verified by
    comparing full signatures, never full texts.
    """
    rows_per_band = num_hashes // bands
    sh = shingles_exploded(df, id_col, text_col, n=3)
    sig = minhash_signatures(sh, num_hashes)
    banded = sig.select(
        "id", "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    # band key: xxhash64 of the concatenated band slice by
                    # default — a fixed-width 8-byte shuffle key instead of a
                    # rows_per_band × ~10-char string (the join output is
                    # identical: a 2^-64 collision only adds a candidate
                    # pair, which signature verification then scores).
                    # hash_band_key=False keeps the raw string for oracles
                    # that want to inspect the key itself.
                    (lambda key: F.xxhash64(key) if hash_band_key else key)(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1,
                                        rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    eq = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("est_jaccard", eq / F.lit(num_hashes))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, bucket_cols: list[str], id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within the same bucket.

    Buckets bound the pair explosion (at scale: LSH buckets; in the oracle
    checks: (source, lang)).  Jaccard = |A∩B| / |A∪B| over distinct shingle
    sets, computed by exploding shingles and counting co-occurrences —
    no array comparison ships between executors, only (shingle_hash, id).
    """
    sh = shingles_exploded(df, id_col, text_col, n, extra_cols=bucket_cols,
                           distinct=True) \
        .withColumn("sh", F.xxhash64("shingle")).drop("shingle")
    sizes = sh.groupBy(*bucket_cols, "id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, [*bucket_cols, "sh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(*bucket_cols, F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(*bucket_cols, F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(*bucket_cols, F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, [*bucket_cols, "id_a"]).join(sb, [*bucket_cols, "id_b"])
        .withColumn("jaccard",
                    F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.col("jaccard").cast("double").alias("jaccard"))
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 60) -> DataFrame:
    """60-bit SimHash fingerprint per document, fully JVM-side.

    Per term occurrence: h = first 60 bits of md5(term) (15 hex chars →
    bigint — the same value any SQL engine derives, so the driver's DuckDB
    oracle reproduces fingerprints bit-exactly; xxhash64 could not be
    cross-checked).  Each bit of h votes ±1 per occurrence — Σ_terms(±tf)
    ≡ Σ_occurrences(±1), so the per-(doc, term) tf aggregation the round-2
    form spent a second shuffle on is unnecessary (round 6): ONE
    groupBy(doc) with ``bits`` static conditional sums, map-side partial
    combine, whole-stage codegen, no Python boundary — identical integer
    votes, identical fingerprints.
    """
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
    occ = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
        .withColumn("h", F.conv(F.substring(F.md5("term"), 1, 15), 16, 10)
                    .cast("long"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    voted = occ.groupBy("id").agg(*votes)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0,
                     F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim.bitwiseXOR(bit)
    return voted.select("id", sim.alias("sim"))


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ≤ max_hamming.

    Banding on ``max_hamming + 1`` chunks of the 60-bit fingerprint —
    pigeonhole: distance ≤ h over h+1 disjoint chunks forces at least one
    chunk to be EQUAL, so recall is complete at the requested radius (the
    driver oracle verifies radius 3 against the exact all-pairs Hamming
    ground truth).  The self-join stays keyed — never all-pairs; at web
    scale, pair the chunk key with a coarse partition column so bucket
    sizes stay bounded.
    """
    bits = 60
    n_chunks = max_hamming + 1
    base_w, rem = divmod(bits, n_chunks)
    widths = [base_w + (1 if c < rem else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]
    sh = simhash(df, id_col, text_col, bits=bits)
    chunks = sh.select(
        "id", "sim",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright("sim", offsets[c])
                .bitwiseAND(F.lit((1 << widths[c]) - 1)).alias("key"),
            )
            for c in range(n_chunks)
        ])).alias("ck"),
    ).select("id", "sim", "ck.chunk", "ck.key")
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        a.join(b, ["chunk", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                ham.cast("int").alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def minhash_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", n: int = 3,
                           num_hashes: int = 64, bands: int = 16,
                           jaccard_threshold: float = 0.5) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate generation +
    EXACT n-gram-Jaccard verification of only the candidates — the
    composition SURVEY names for web scale (bucketed candidates bound the
    pair explosion; exact verification removes LSH false positives).

    → (id_a, id_b, jaccard) with jaccard ≥ threshold, jaccard computed on
    the true distinct-shingle sets.  Only candidate pairs ever join their
    shingle sets, so the verify stage is O(|candidates| × shingles/doc).
    """
    rows_per_band = num_hashes // bands
    # ONE distinct-shingle subtree feeds BOTH the signature build and the
    # exact verification below: duplicate shingles can't bias a min, so
    # signatures over the distinct set are bit-identical to signatures over
    # occurrences, and sharing the plan lets Spark's ReuseExchange compute
    # the shingle pipeline once instead of twice (guide §2.4).
    sh_dist = shingles_exploded(df, id_col, text_col, n=n, distinct=True)
    sig = minhash_signatures(sh_dist, num_hashes)
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string")),
                        ",",
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    # exact verification on candidates only (same shared distinct subtree)
    sh = sh_dist.select("id", F.xxhash64("shingle").alias("h"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("id").alias("id_a"), "h")
    sb = sh.select(F.col("id").alias("id_b"), "h")
    inter = (cand.join(sa, "id_a").join(sb, ["id_b", "h"])
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_inter")))
    za = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    zb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (inter.join(za, "id_a").join(zb, "id_b")
            .withColumn("jaccard", F.col("n_inter")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b",
                    F.round(F.col("jaccard").cast("double"), 6).alias("jaccard")))


def neardup_clusters(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b", max_iter: int = 25) -> DataFrame:
    """Connected components over a near-duplicate pair graph → one CANONICAL
    document per duplicate cluster (min doc_id wins) — the step production
    pipelines run AFTER MinHash verification: pairs alone can't be acted on
    (removing one doc of every pair over-deletes transitive chains), the
    cluster structure can.

    Algorithm: hash-min label propagation fused with pointer jumping
    (label ← label(label), applied twice per round) so convergence is
    O(log diameter) rounds; each round is one join+groupBy over compact
    (long, long) rows plus two jump joins, and the driver sees only a
    one-row SUM per round (labels only ever decrease, so an unchanged sum
    IS the fixpoint — no row-level change join needed).  Self-loop edges
    fold the "keep own label" term into the SAME neighbor-min aggregation
    (round 6: the separate labels-side left join was one of three shuffle
    joins per round; the fixpoint — component-min labels — is unchanged).
    ``labels`` is localCheckpoint()ed every round to truncate the
    iterative lineage (the classic iterative-Spark plan-explosion fix); each
    round's checkpoint is released once the next one has materialized, so
    only the returned frame's stays.  Edges are persisted for reuse across
    rounds and released before returning.

    Returns (doc_id, cluster_id, cluster_size, is_canonical) for every node
    that appears in ≥1 pair; singleton documents never enter the graph and
    are by definition their own canonical.
    """
    e = pairs.select(F.col(id_a).cast("long").alias("src"),
                     F.col(id_b).cast("long").alias("dst"))
    und = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))).distinct()
    nodes = und.select(F.col("src").alias("node")).distinct()
    # self-loops: min over {label(self)} ∪ {label(neighbors)} in ONE agg
    edges = und.union(nodes.select(F.col("node").alias("src"),
                                   F.col("node").alias("dst"))).persist()
    labels = (nodes.select("node", F.col("node").alias("label"))
              .localCheckpoint(eager=False))
    prev_labels, prev_sum = labels, None
    for _ in range(max_iter):
        new = (edges
               .join(labels.select(F.col("node").alias("dst"),
                                   F.col("label").alias("dlab")), "dst")
               .groupBy("src").agg(F.min("dlab").alias("label"))
               .select(F.col("src").alias("node"), "label"))
        # pointer jump ×2: label(label) is always defined — labels only
        # take node-id values — and only decreases (v = label(k) ≤ k
        # invariant); the second application costs one more tiny join and
        # roughly halves the rounds to the fixpoint
        dic = new.select(F.col("node").alias("k"), F.col("label").alias("v"))
        j1 = (new.join(dic, new["label"] == dic["k"], "left")
              .select("node", F.coalesce("v", "label").alias("label")))
        # lazy checkpoint: the convergence SUM below is the round's one
        # action — it materializes the checkpoint and computes the scalar
        # in the SAME job (an eager checkpoint spent a second job per
        # round); lineage still truncates at first materialization
        labels = (j1.join(dic, j1["label"] == dic["k"], "left")
                  .select("node", F.coalesce("v", "label").alias("label"))
                  .localCheckpoint(eager=False))
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        # this round's checkpoint has materialized and cut its lineage, so
        # nothing reads the previous round's; its blocks belong to the RDD
        # under its LogicalRDD plan, which DataFrame.unpersist() misses
        prev_labels._jdf.queryExecution().logical().rdd().unpersist(False)
        prev_labels = labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "label")
            .select(F.col("node").alias("doc_id"),
                    F.col("label").alias("cluster_id"),
                    F.col("cluster_size").cast("long").alias("cluster_size"),
                    (F.col("node") == F.col("label")).alias("is_canonical")))

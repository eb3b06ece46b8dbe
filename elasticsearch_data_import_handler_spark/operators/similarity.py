"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; the scale path buckets
candidates with a random-hyperplane LSH (SimHash for vectors) so each query
only scores its buckets — the classic sign-random-projection scheme (Charikar
'02, public literature).  Dot products run JVM-side via zip_with/aggregate
(no Python); at very high dims swap in a pandas_udf with numpy matmul per
Arrow batch (kept here as the documented alternative).

Scale notes: brute force is O(n_q × n_docs × dim) — fine when the query side
is broadcastable and n_docs is partitioned; the LSH variant prunes n_docs by
~bucket_fraction.  For 100 TB you'd persist the bucketed table partitioned by
(plane_sig) so queries prune partitions at scan time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_pairs(pairs: DataFrame, a_col: str, b_col: str, out_cols: list[str],
                 threshold: float | None = None) -> DataFrame:
    """Row-wise cosine over two vector columns as ONE einsum per Arrow batch
    (the zip_with/aggregate HOF fold is interpreted per element: dim ops ×
    millions of pairs).  Keeps ``out_cols`` (must be bigint ids) and appends
    ``cos``; optionally filters to cos ≥ threshold inside the kernel so
    sub-threshold pairs never cross the Arrow boundary back."""
    import numpy as np
    import pandas as pd

    def _verify(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            A = np.array(pdf[a_col].tolist(), dtype=np.float64)
            B = np.array(pdf[b_col].tolist(), dtype=np.float64)
            cos = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
            out = pd.DataFrame({c: pdf[c] for c in out_cols})
            out["cos"] = cos
            yield out[out["cos"] >= threshold] if threshold is not None else out

    schema = ", ".join(f"{c} long" for c in out_cols) + ", cos double"
    return pairs.mapInPandas(_verify, schema=schema)


def cosine_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                method: str = "matmul",
                similarity: float | None = None) -> DataFrame:
    """Brute-force cosine top-k: the first ``n_queries`` vec_ids are the query
    set, scored against all other vectors.  → (query_id, rank, vec_id, cos).

    ``similarity`` is the ES 8.x knn parameter: the minimum cosine a vector
    needs to count as a match at all — applied BEFORE the top-k cut (ES
    semantics: below-threshold vectors are not matches, so they can't
    occupy ranks), on the presentation-rounded value so the cut is
    engine-portable.

    ``method="matmul"`` (default, the scale path): the query matrix — bounded
    by n_queries, the one legitimate driver-side collect — is normalized once
    and closed over an Arrow-batched mapInPandas kernel that scores each
    candidate batch as ONE numpy float64 matmul (BLAS), ~10-100× the
    throughput of per-element expression evaluation.  ``method="hof"`` keeps
    the pure-JVM zip_with/aggregate fold (useful to cross-check float
    summation order).  Both match the DuckDB oracle at 4-decimal rounding.
    """
    if method == "hof":
        q = F.broadcast(
            embeddings.filter(F.col(id_col) < n_queries).select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
            )
        )
        c = embeddings.filter(F.col(id_col) >= n_queries).select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
        )
        scored = q.crossJoin(c).select(
            "query_id",
            "vec_id",
            (_dot(F.col("qvec"), F.col("cvec"))
             / (_norm(F.col("qvec")) * _norm(F.col("cvec")))).alias("cos"),
        )
    else:
        import numpy as np

        q_rows = embeddings.filter(F.col(id_col) < n_queries) \
            .select(id_col, vec_col).collect()  # bounded by n_queries
        qids = np.array([r[0] for r in q_rows], dtype=np.int64)
        Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

        def _score(it):
            import pandas as pd
            for pdf in it:
                C = np.array(pdf["cvec"].tolist(), dtype=np.float64)
                Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
                S = Cn @ Qn.T  # (n_cand, n_q) — one BLAS call per Arrow batch
                n_c = C.shape[0]
                yield pd.DataFrame({
                    "query_id": np.tile(qids, n_c),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(np.int64),
                                        qids.size),
                    "cos": S.ravel(),
                })

        scored = embeddings.filter(F.col(id_col) >= n_queries).select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cvec")
        ).mapInPandas(_score, schema="query_id long, vec_id long, cos double")
    if similarity is not None:
        scored = scored.filter(F.round("cos", 4) >= float(similarity))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos"))
    )


def rademacher_sign(tbl: int, plane: int, dim_idx: int) -> int:
    """±1 plane component, deterministic from md5 — the same value any SQL
    engine derives (parity of the first md5 hex nibble of 't,j,d'), so the
    driver's DuckDB oracle regenerates identical hyperplanes.  Rademacher
    (±1) random projections are a valid SRP family (Achlioptas '01)."""
    import hashlib

    nib = int(hashlib.md5(f"{tbl},{plane},{dim_idx}".encode()).hexdigest()[0], 16)
    return (nib % 2) * 2 - 1


def quantized_vec(vec_col: str = "embedding"):
    """floor(x·1000) integer copy of a float vector — exact in any engine,
    immune to float summation-order drift; the basis for every LSH/IVF
    bucketing decision so bucket assignment is bit-reproducible in SQL."""
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * 1000).cast("long"))


def srp_signatures(embeddings: DataFrame, n_planes: int = 4, n_tables: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, tbl, sig): multi-table sign-random-projection signatures on
    deterministic md5-Rademacher planes over the quantized vector.

    One Arrow-batched numpy kernel: ALL n_tables·n_planes sign bits per
    vector come from a single int64 matmul ``V @ P.T`` (interpreted HOF
    plane-dots cost 64 lambda evaluations per element — measured as the
    dominant stage).  Integer arithmetic keeps bucket assignment
    bit-reproducible in the SQL oracle regardless of summation order."""
    import numpy as np
    import pandas as pd

    weights = np.array([1 << (n_planes - 1 - j) for j in range(n_planes)],
                       dtype=np.int64)
    tbls = np.arange(n_tables, dtype=np.int32)

    def _sigs(it):
        P = None  # plane matrix built per task from the first batch's dim —
        # rademacher_sign is a pure md5 derivation (T·J·dim hashes, ~µs),
        # cheaper than the extra Spark job a driver-side .first() probe costs
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.floor(np.array(pdf["__vec"].tolist(),
                                  dtype=np.float64) * 1000.0).astype(np.int64)
            if P is None:
                dim = V.shape[1]
                P = np.array([[rademacher_sign(t, j, d) for d in range(dim)]
                              for t in range(n_tables) for j in range(n_planes)],
                             dtype=np.int64)
            bits = (V @ P.T > 0).astype(np.int64)          # n × (T·J)
            sig = bits.reshape(len(pdf), n_tables, n_planes) @ weights  # n × T
            yield pd.DataFrame({
                "id": np.repeat(pdf["__id"].to_numpy(np.int64), n_tables),
                "tbl": np.tile(tbls, len(pdf)),
                "sig": sig.ravel(),
            })

    return embeddings.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(_sigs, schema="id long, tbl int, sig long") \
        .withColumnRenamed("id", id_col)


def lsh_bucketed_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                      n_planes: int = 4, n_tables: int = 8,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      similarity: float | None = None) -> DataFrame:
    """Sign-random-projection LSH ANN with L hash tables (multi-table LSH).

    Each table buckets by the sign bits of ``n_planes`` deterministic
    Rademacher hyperplanes; candidates are the union of same-bucket vectors
    over all tables — the standard recall lever (P[collide in ≥1 table] =
    1-(1-p^m)^L).  The sign projections run on a *quantized* integer copy of
    the vector (floor(x·1000) — exact in any engine, immune to float
    summation-order drift), so bucket assignment is bit-reproducible in the
    DuckDB oracle; the final cosine re-rank uses full float precision.  At
    100 TB the bucketed table is persisted partitioned by (table, sig) so a
    query prunes to L partitions.  ``similarity`` is the ES knn minimum-
    cosine match threshold, applied before the top-k cut (see
    :func:`cosine_topk`)."""
    e = srp_signatures(embeddings, n_planes, n_tables, id_col, vec_col)
    q = F.broadcast(
        e.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"), "tbl", "sig"))
    c = e.filter(F.col(id_col) >= n_queries).select(
        F.col(id_col).alias("vec_id"), "tbl", "sig")
    # candidates travel id-only; vectors join back once per surviving pair
    cand = (q.join(c, ["tbl", "sig"])
            .select("query_id", "vec_id")
            .dropDuplicates(["query_id", "vec_id"]))
    qe = F.broadcast(embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")))
    ce = embeddings.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("cvec"))
    scored = cosine_pairs(cand.join(qe, "query_id").join(ce, "vec_id"),
                          "qvec", "cvec", ["query_id", "vec_id"])
    if similarity is not None:
        scored = scored.filter(F.round("cos", 4) >= float(similarity))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos"))
    )


def embedding_neardup_lsh(embeddings: DataFrame, threshold: float = 0.35,
                          n_planes: int = 4, n_tables: int = 8,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs WITHOUT a label column — the 100 TB path the
    label-bucketed variant documents: SRP-LSH multi-table candidates
    (same-bucket in ANY table), then exact cosine verification.  Candidate
    count is Σ_bucket |bucket|² per table — controlled by n_planes; never
    all-pairs.  → (id_a, id_b, cos) with cos ≥ threshold."""
    # candidate generation on (id, tbl, sig) ONLY — vectors must not travel
    # through the bucket self-join + distinct (they'd be shuffled per
    # candidate pair); they are joined back once per surviving pair
    sigs = srp_signatures(embeddings, n_planes, n_tables, id_col, vec_col)
    a = sigs.select(F.col(id_col).alias("id_a"), "tbl", "sig")
    b = sigs.select(F.col(id_col).alias("id_b"), "tbl", "sig")
    cand = (a.join(b, ["tbl", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    ea = embeddings.select(F.col(id_col).alias("id_a"),
                           F.col(vec_col).alias("va"))
    eb = embeddings.select(F.col(id_col).alias("id_b"),
                           F.col(vec_col).alias("vb"))
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    return (cosine_pairs(pairs, "va", "vb", ["id_a", "id_b"],
                         threshold=threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos")))


def _cell_norms(C):
    """Per-centroid L2 norms of the integer centroid matrix, with a
    zero-vector guard (an all-zero updated centroid would divide by zero —
    the guard maps its sims to 0, same as the oracle's greatest(·, 1))."""
    import numpy as np

    sq = (C * C).sum(axis=1)
    return np.sqrt(np.maximum(sq, 1).astype(np.float64))


def _assign_cells(df: DataFrame, C, n_probe: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """(id, cell, crank ≤ n_probe): nearest-centroid ranks per vector as one
    int64 matmul per Arrow batch against the closed-over centroid matrix —
    the srp_signatures kernel shape, replacing the round-2
    crossJoin(centroids) + interpreted-HOF dot (O(n·C·dim) lambda evals).

    Ranking metric: dot(floor(v·1000), c) / ||c|| with integer dots (exact in
    any engine) and stable index tie-break — bit-reproducible in SQL."""
    import numpy as np
    import pandas as pd

    Cm = C.copy()
    norms = _cell_norms(Cm)
    p = min(n_probe, Cm.shape[0])

    def _assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.floor(np.array(pdf["__v"].tolist(),
                                  dtype=np.float64) * 1000.0).astype(np.int64)
            S = (V @ Cm.T) / norms          # exact int dot / exact sqrt
            idx = np.argsort(-S, axis=1, kind="stable")[:, :p]  # ties → low cell
            n = len(pdf)
            yield pd.DataFrame({
                "id": np.repeat(pdf["__id"].to_numpy(np.int64), p),
                "cell": idx.ravel().astype(np.int32),
                "crank": np.tile(np.arange(1, p + 1, dtype=np.int32), n),
            })

    return df.select(F.col(id_col).alias("__id"),
                     F.col(vec_col).alias("__v")) \
        .mapInPandas(_assign, schema="id long, cell int, crank int") \
        .withColumnRenamed("id", id_col)


def kmeans_centroids(embeddings: DataFrame, k: int = 16, iters: int = 3,
                     n_queries: int = 0, id_col: str = "vec_id",
                     vec_col: str = "embedding"):
    """Deterministic Lloyd k-means for the IVF coarse quantizer, as
    DataFrame ops — returns the k×dim int64 centroid matrix (cell = row).

    Every step is bit-reproducible in any engine (the DuckDB oracle replays
    the whole loop):

    * init: the k candidate vectors with smallest md5(id) hex (byte-lexical,
      id tie-break), quantized to floor(x·1000) ints;
    * assign: integer dot / ||c|| argmax via the matmul kernel — one pass,
      no shuffle;
    * update: element-wise floor(Σ quantized / count) — integer sums are
      summation-order-free, so engines can't drift; an emptied cell keeps
      its previous centroid.

    Per iteration: one fused assign+partial-sum kernel pass whose output is
    ≤ k partial rows per task (cell, Σ quantized vec, count) — integer sums
    are summation-order-free, so folding the partials on the driver lands on
    the same centroids as any grouping (round 6: the former
    assign → join → posexplode(dim) → groupBy(cell, pos) plan shuffled
    n·dim rows per iteration to compute the same k×dim integers)."""
    import numpy as np
    import pandas as pd

    cand = embeddings.filter(F.col(id_col) >= n_queries).select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        quantized_vec(vec_col).alias("__q")).persist()
    # one TakeOrdered job collects ids AND quantized vectors for the k seeds
    seed_rows = (cand.select("__id", "__q",
                             F.md5(F.col("__id").cast("string")).alias("__h"))
                 .orderBy("__h", "__id").limit(k).collect())
    C = np.array([list(r["__q"]) for r in seed_rows], dtype=np.int64)
    dim = C.shape[1]
    for _ in range(iters):
        Cm = C.copy()
        norms = _cell_norms(Cm)
        k_cells = Cm.shape[0]

        def _partials(it):
            acc = np.zeros((k_cells, dim), dtype=np.int64)
            cnt = np.zeros(k_cells, dtype=np.int64)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                V = np.floor(np.array(pdf["__v"].tolist(), dtype=np.float64)
                             * 1000.0).astype(np.int64)
                S = (V @ Cm.T) / norms
                # argmax = first (lowest) cell on ties — identical to the
                # stable argsort rank-1 assignment in _assign_cells
                cells = np.argmax(S, axis=1)
                np.add.at(acc, cells, V)
                np.add.at(cnt, cells, 1)
            nz = np.nonzero(cnt)[0]
            if nz.size:
                yield pd.DataFrame({"cell": nz.astype(np.int32),
                                    "s": list(acc[nz]), "n": cnt[nz]})

        parts = cand.select("__v").mapInPandas(
            _partials, schema="cell int, s array<long>, n long").collect()
        Cn = C.copy()  # emptied cells keep their previous centroid
        s_tot = np.zeros((k_cells, dim), dtype=np.int64)
        n_tot = np.zeros(k_cells, dtype=np.int64)
        for r in parts:  # ≤ k rows per task — metadata-scale
            s_tot[r["cell"]] += np.array(r["s"], dtype=np.int64)
            n_tot[r["cell"]] += r["n"]
        for cell in np.nonzero(n_tot)[0]:
            Cn[cell] = np.floor(
                s_tot[cell].astype(np.float64) / float(n_tot[cell])
            ).astype(np.int64)
        C = Cn
    cand.unpersist()
    return C


def ivf_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
             n_probe: int = 4, k_cells: int = 16, iters: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids=None, predicate=None) -> DataFrame:
    """IVF (inverted-file) ANN: train a deterministic k-means coarse
    quantizer, assign every candidate vector to its nearest cell, probe the
    query's ``n_probe`` nearest cells, exact cosine re-rank (einsum kernel)
    inside the probed cells.

    Assignment is one int64 matmul per Arrow batch against the broadcast
    (closure) centroid matrix — no crossJoin, no interpreted HOFs — and is
    bit-reproducible in the DuckDB oracle (integer dots, exact sqrt, index
    tie-break).  At 100 TB the assigned table is persisted partitioned by
    cell id: a query scans n_probe partitions (partition pruning), the IVF
    analog of the LSH table layout; training cost is iters passes with a
    (cell, pos)-sized shuffle each.

    ``predicate`` is the ES 8.x ``knn.filter`` pre-filter (see
    :func:`knn_filtered_topk`): applied to candidate rows BEFORE cell
    assignment, so the filter narrows the probed cells' contents (never
    recall within the filtered set) and pushes into the candidate scan.
    Centroids train on the unfiltered corpus — the index is built once,
    filters vary per query, matching how a deployed IVF index works."""
    C = centroids if centroids is not None else kmeans_centroids(
        embeddings, k=k_cells, iters=iters, n_queries=n_queries,
        id_col=id_col, vec_col=vec_col)
    corpus = embeddings if predicate is None else (
        embeddings.filter((F.col(id_col) < n_queries) | predicate))
    assigned = _assign_cells(corpus, C, n_probe=n_probe,
                             id_col=id_col, vec_col=vec_col)
    cand = (assigned.filter((F.col(id_col) >= n_queries) & (F.col("crank") == 1))
            .select(F.col(id_col).alias("vec_id"), "cell"))
    qry = F.broadcast(
        assigned.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), "cell"))
    pairs = qry.join(cand, "cell").select("query_id", "vec_id")
    qe = F.broadcast(embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")))
    ce = embeddings.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("cvec"))
    scored = cosine_pairs(pairs.join(qe, "query_id").join(ce, "vec_id"),
                          "qvec", "cvec", ["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos")))


# ------------------------------------------------------------------ IVF-PQ

def _residuals(cand: DataFrame, assigned_cells: DataFrame, C,
               id_col: str, vec_col: str) -> DataFrame:
    """(id, r): integer residual floor(v·1000) − centroid[cell] per
    candidate — one numpy subtract per Arrow batch against the closed-over
    centroid matrix (C is k_cells×dim, metadata-scale)."""
    import numpy as np
    import pandas as pd

    Cm = C.copy()

    def _res(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.floor(np.array(pdf["__v"].tolist(),
                                  dtype=np.float64) * 1000.0).astype(np.int64)
            R = V - Cm[pdf["cell"].to_numpy(np.int64)]
            yield pd.DataFrame({"id": pdf["__id"].to_numpy(np.int64),
                                "cell": pdf["cell"].to_numpy(np.int32),
                                "r": list(R)})

    joined = (cand.select(F.col(id_col).alias("__id"),
                          F.col(vec_col).alias("__v"))
              .join(assigned_cells.withColumnRenamed(id_col, "__id"), "__id"))
    return joined.mapInPandas(_res, schema="id long, cell int, r array<long>")


def _pq_codes_rows(residuals: DataFrame, CB) -> DataFrame:
    """(id, cell, codes array<int>): every subspace's nearest sub-codebook
    entry per residual row in ONE kernel pass, m-ordered.  Minimizes the
    integer L2 objective ||cb||² − 2·r·cb (per-row ||r||² is constant in
    the argmin) with a stable first-(low)-code tie-break — one batched
    matmul per subspace, bit-reproducible in SQL."""
    import numpy as np
    import pandas as pd

    CBm = CB.copy()               # (M, k_pq, dsub) int64
    M, k_pq, dsub = CBm.shape
    cb_sq = (CBm * CBm).sum(axis=2)     # (M, k_pq)

    def _assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            R = np.array(pdf["r"].tolist(), dtype=np.int64).reshape(
                len(pdf), M, dsub)
            codes = np.empty((len(pdf), M), dtype=np.int32)
            for m in range(M):
                obj = cb_sq[m][None, :] - 2 * (R[:, m, :] @ CBm[m].T)
                codes[:, m] = np.argmin(obj, axis=1)
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(np.int64),
                "cell": pdf["cell"].to_numpy(np.int32),
                "codes": list(codes),
            })

    return residuals.select("id", "cell", "r").mapInPandas(
        _assign, schema="id long, cell int, codes array<int>")


def pq_codebooks(residuals: DataFrame, M: int = 8, k_pq: int = 16,
                 iters: int = 1, dim: int | None = None):
    """Deterministic product-quantization codebooks over IVF cell residuals
    (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011 — public).  Returns the (M, k_pq, dsub) int64
    codebook tensor.

    Same scalable-Lloyd shape as kmeans_centroids: seeds are the k_pq
    candidates with smallest md5(id) (one bounded collect of k_pq residual
    vectors, sliced into subvectors — shared seed ids across subspaces keep
    the oracle replay to ONE seed ranking); each iteration is one fused
    assign+partial-sum kernel pass whose output is ≤ M·k_pq partial rows per
    task (m, code, Σ subvector, count) folded on the driver — integer sums
    are summation-order-free, so any engine (and any partial grouping) lands
    on bit-identical codebooks (round 6: the former codes ⋈ posexploded-
    residuals → groupBy(m, code, spos) plan shuffled n·dim rows per
    iteration for the same integers).  ``dim`` skips the 1-row dimension
    probe when the caller already knows it (ivf_pq_topk passes the centroid
    width)."""
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = len(residuals.select("r").head()["r"])
    if dim % M:
        raise ValueError(f"dim {dim} not divisible by M={M}")
    dsub = dim // M
    seed_rows = (residuals
                 .select("id", "r", F.md5(F.col("id").cast("string")).alias("__h"))
                 .orderBy("__h", "id").limit(k_pq).collect())
    S = np.array([list(r["r"]) for r in seed_rows], dtype=np.int64)
    CB = np.stack([S[:, m * dsub:(m + 1) * dsub] for m in range(M)])
    for _ in range(iters):
        CBm = CB.copy()
        cb_sq = (CBm * CBm).sum(axis=2)

        def _partials(it):
            acc = np.zeros((M, k_pq, dsub), dtype=np.int64)
            cnt = np.zeros((M, k_pq), dtype=np.int64)
            for pdf in it:
                if len(pdf) == 0:
                    continue
                R = np.array(pdf["r"].tolist(), dtype=np.int64).reshape(
                    len(pdf), M, dsub)
                for m in range(M):
                    # same integer objective + first-(low)-code tie-break
                    # as _pq_codes_rows
                    obj = cb_sq[m][None, :] - 2 * (R[:, m, :] @ CBm[m].T)
                    codes = np.argmin(obj, axis=1)
                    np.add.at(acc[m], codes, R[:, m, :])
                    np.add.at(cnt[m], codes, 1)
            ms, cs = np.nonzero(cnt)
            if ms.size:
                yield pd.DataFrame({"m": ms.astype(np.int32),
                                    "code": cs.astype(np.int32),
                                    "s": list(acc[ms, cs]),
                                    "n": cnt[ms, cs]})

        parts = residuals.select("r").mapInPandas(
            _partials, schema="m int, code int, s array<long>, n long"
        ).collect()  # ≤ M·k_pq rows per task — metadata-scale
        s_tot = np.zeros((M, k_pq, dsub), dtype=np.int64)
        n_tot = np.zeros((M, k_pq), dtype=np.int64)
        for r in parts:
            s_tot[r["m"], r["code"]] += np.array(r["s"], dtype=np.int64)
            n_tot[r["m"], r["code"]] += r["n"]
        CBn = CB.copy()     # emptied codes keep their previous entry
        for m, code in zip(*np.nonzero(n_tot)):
            CBn[m, code] = np.floor(
                s_tot[m, code] / n_tot[m, code]).astype(np.int64)
        CB = CBn
    return CB


def ivf_pq_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                n_probe: int = 4, k_cells: int = 16, iters: int = 3,
                M: int = 8, k_pq: int = 16, pq_iters: int = 1,
                refine: int | None = None, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ ANN: IVF coarse quantizer + product-quantized residual codes,
    ADC candidate scoring, exact cosine re-rank of the ADC top-``refine``.

    The 10^10-vector memory story the raw-vector ivf_topk lacks: a probed
    cell holds M bytes/vector (codes) instead of dim floats — at M=8 that is
    a 32× cut for dim=64 float32 — and the ADC scan over a cell is integer
    table lookups, no raw-vector I/O.  Only the ≤ refine survivors per query
    ever load their raw vectors for the exact re-rank, which keeps the final
    top-k hash-matchable against the DuckDB oracle (the oracle replays
    coarse training, residual PQ training, code assignment, and integer ADC
    bit-identically; exactness comes from the same floor(v·1000) int space
    as every bucketing decision in this module).

    ADC decomposition (inner product, integer-exact): q·(c_cell + r̂) =
    q·c_cell + Σ_m q_m·cb_m[code_m] — no approximation on the query side.

    At 100 TB: codes table persisted partitioned by cell (partition-pruned
    scan of n_probe cells per query); training collects are metadata-scale
    (k_cells×dim + M·k_pq·dsub ints per iteration)."""
    import numpy as np
    import pandas as pd

    if refine is None:
        refine = 8 * k  # Jégou-style re-rank window: ADC is a lossy first
        # pass, the window is what recall is bought with (8×k matched the
        # raw-vector ivf_topk's recall on the fixture)
    Cq = kmeans_centroids(embeddings, k=k_cells, iters=iters,
                          n_queries=n_queries, id_col=id_col, vec_col=vec_col)
    dim = Cq.shape[1]
    dsub = dim // M
    cand = embeddings.filter(F.col(id_col) >= n_queries)
    assigned = _assign_cells(embeddings, Cq, n_probe=n_probe,
                             id_col=id_col, vec_col=vec_col)
    cells1 = (assigned.filter((F.col(id_col) >= n_queries)
                              & (F.col("crank") == 1))
              .select(id_col, "cell"))
    res = _residuals(cand, cells1, Cq, id_col, vec_col).persist()
    CB = pq_codebooks(res, M=M, k_pq=k_pq, iters=pq_iters, dim=dim)
    # the persisted 100-TB artifact shape: (vec_id, cell, codes[M]) — one
    # kernel pass over the residual rows
    coded = _pq_codes_rows(res, CB).withColumnRenamed("id", id_col)
    q_rows = (embeddings.filter(F.col(id_col) < n_queries)
              .select(id_col, quantized_vec(vec_col).alias("qz"))
              .collect())  # bounded by n_queries
    QZ = {int(r[0]): np.array(list(r[1]), dtype=np.int64) for r in q_rows}
    qprobe = F.broadcast(
        assigned.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), "cell"))
    padc = qprobe.join(coded, "cell")

    CBm, Cm = CB.copy(), Cq.copy()
    qids_sorted = sorted(QZ)
    Qm = np.stack([QZ[q] for q in qids_sorted])          # (n_q, dim)
    qpos = {q: i for i, q in enumerate(qids_sorted)}
    cent_ip = Qm @ Cm.T                                   # (n_q, k_cells)
    # per-query LUT: (n_q, M, k_pq) integer dots q_m · cb_m[code]
    lut = np.einsum("qmd,mkd->qmk",
                    Qm.reshape(len(qids_sorted), M, dsub), CBm)

    def _adc(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            qi = pdf["query_id"].map(qpos).to_numpy(np.int64)
            cells = pdf["cell"].to_numpy(np.int64)
            codes_arr = np.array(pdf["codes"].tolist(), dtype=np.int64)
            ip = cent_ip[qi, cells]
            for m in range(M):
                ip = ip + lut[qi, m, codes_arr[:, m]]
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "vec_id": pdf[id_col],
                                "ip": ip})

    adc = padc.mapInPandas(_adc,
                           schema="query_id long, vec_id long, ip long")
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("ip"),
                                                   F.asc("vec_id"))
    survivors = (adc.withColumn("__rn", F.row_number().over(w_adc))
                 .filter(F.col("__rn") <= refine).drop("__rn", "ip"))
    res.unpersist()
    qe = F.broadcast(embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")))
    ce = embeddings.select(F.col(id_col).alias("vec_id"),
                           F.col(vec_col).alias("cvec"))
    scored = cosine_pairs(survivors.join(qe, "query_id").join(ce, "vec_id"),
                          "qvec", "cvec", ["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", F.round("cos", 4).alias("cos")))


def knn_filtered_topk(embeddings: DataFrame, predicate, n_queries: int = 5,
                      k: int = 10, mode: str = "pre",
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """ES 8.x filtered kNN (``knn.filter``): top-k nearest neighbors among
    candidates satisfying ``predicate`` (a Column over the embeddings
    table's metadata).

    ``mode="pre"`` is the ES contract: the filter applies DURING the
    search, so exactly k hits come back whenever k candidates pass — the
    filter narrows the candidate set BEFORE ranking.  ``mode="post"`` is
    the naive (and usually wrong) alternative ES docs warn about: rank
    first, filter the k results after, returning < k hits when the filter
    is selective.  Both are provided so pipelines can assert the
    difference; recall-sensitive callers want "pre".

    Scale shape: the predicate is a plain Column, so it pushes into the
    candidate scan (parquet pushdown when the metadata is a scan column)
    and the brute-force matmul kernel only ever sees surviving rows; with
    an IVF index the same pre-filter applies to the probed cells'
    candidate rows (selectivity reduces work, never recall).  Query rows
    are exempt from the filter — they're the search, not the corpus."""
    if mode == "post":
        ranked = cosine_topk(embeddings, n_queries=n_queries, k=k,
                             id_col=id_col, vec_col=vec_col)
        keep = embeddings.filter(predicate).select(
            F.col(id_col).alias("vec_id"))
        return ranked.join(keep, "vec_id", "left_semi") \
                     .select("query_id", "rank", "vec_id", "cos")
    if mode != "pre":
        raise ValueError(f"mode must be 'pre' or 'post', got {mode!r}")
    queries = embeddings.filter(F.col(id_col) < n_queries)
    cands = embeddings.filter(F.col(id_col) >= n_queries).filter(predicate)
    return cosine_topk(queries.unionByName(cands), n_queries=n_queries,
                       k=k, id_col=id_col, vec_col=vec_col)

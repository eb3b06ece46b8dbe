"""KMV distinct-cardinality sketch (operators/sketches.py).

Covers the three properties that make a sketch trustworthy at scale:
accuracy in the estimator regime, exactness below k, and invariance to how
the input is partitioned (= the merge is correct, since every partitioning
exercises a different pre-reduce/merge split).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from elasticsearch_data_import_handler_spark.operators.sketches import kmv_distinct


def _synth(spark, n_distinct: int, copies: int = 3):
    """copies × n_distinct rows, one group, known true cardinality."""
    return (spark.range(n_distinct * copies)
            .select(F.lit("g").alias("grp_col"),
                    (F.col("id") % n_distinct).alias("v")))


def test_exact_below_k(spark):
    df = _synth(spark, n_distinct=40)
    [row] = kmv_distinct(df, "grp_col", "v", k=64).collect()
    assert row.exact_mode == 1
    assert row.est_distinct == 40.0


def test_estimator_accuracy(spark):
    n = 5000
    df = _synth(spark, n_distinct=n)
    k = 256
    [row] = kmv_distinct(df, "grp_col", "v", k=k).collect()
    assert row.exact_mode == 0
    # rel stderr ≈ 1/√k; 4 sigma on a single deterministic draw
    assert abs(row.est_distinct - n) / n < 4 / math.sqrt(k)


def test_partitioning_invariance(spark):
    """Same sketch whether computed in 1 or 16 pre-reduce partitions —
    the merge (union of k-smallest sets → global k-smallest) is exact."""
    df = _synth(spark, n_distinct=1000).withColumn(
        "grp_col", F.concat(F.lit("g"), (F.col("v") % 3).cast("string")))
    one = {r.grp: (r.est_distinct, r.exact_mode)
           for r in kmv_distinct(df.coalesce(1), "grp_col", "v", k=64).collect()}
    many = {r.grp: (r.est_distinct, r.exact_mode)
            for r in kmv_distinct(df.repartition(16), "grp_col", "v", k=64).collect()}
    assert one == many and len(one) == 3


def test_union_mergeability(spark):
    """KMV over a union == KMV over the parts' union of rows (the property
    that lets a 100 TB job sketch per partition and merge)."""
    a = _synth(spark, n_distinct=500)
    b = (spark.range(700).select(F.lit("g").alias("grp_col"),
                                 (F.col("id") + 250).alias("v")))
    whole = kmv_distinct(a.unionByName(b), "grp_col", "v", k=64).collect()
    [row] = whole
    # truth: 0..499 ∪ 250..949 = 950 distinct
    assert abs(row.est_distinct - 950) / 950 < 4 / math.sqrt(64)


def test_sampled_quantiles_accuracy_and_determinism(spark, sf_dir):
    from elasticsearch_data_import_handler_spark.operators.sketches import (
        sampled_quantiles)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exprs = {"p50": ("l_quantity", 0.5), "p90": ("l_quantity", 0.9)}
    est = {r.grp: (r.p50, r.p90, r.n_sample) for r in
           sampled_quantiles(li, "l_returnflag", exprs,
                             key_cols=["l_orderkey", "l_linenumber"],
                             rate_bps=3000).collect()}
    exact = {r.grp: (r.p50, r.p90) for r in
             li.groupBy(F.col("l_returnflag").alias("grp"))
             .agg(F.expr("percentile(l_quantity, 0.5)").alias("p50"),
                  F.expr("percentile(l_quantity, 0.9)").alias("p90"))
             .collect()}
    assert set(est) == set(exact)
    for g, (p50, p90, n) in est.items():
        assert 0 < n < li.filter(F.col("l_returnflag") == g).count()
        # quantity is 1..50 uniform-ish; a 30% sample lands within a few
        assert abs(p50 - exact[g][0]) <= 3
        assert abs(p90 - exact[g][1]) <= 3
    # deterministic: the identical sample on every run
    again = {r.grp: (r.p50, r.p90, r.n_sample) for r in
             sampled_quantiles(li, "l_returnflag", exprs,
                               key_cols=["l_orderkey", "l_linenumber"],
                               rate_bps=3000).collect()}
    assert est == again

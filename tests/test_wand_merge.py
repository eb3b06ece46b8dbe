"""The WAND coordinator merge (``operators.wand._merge_shard_topks``) ranks
shard top-ks exactly as the Spark window it replaced: ``row_number() OVER
(PARTITION BY query_id ORDER BY score DESC, doc_id)`` with ``rank <= k``,
then ``round(score, n)`` — same rows, same floats, same order, same schema."""

import numpy as np
import pyarrow as pa
import pytest

from elasticsearch_data_import_handler_spark.operators.wand import (
    _TOPK, _merge_shard_topks)


def _window_ranked(spark, shard_topk: pa.Table, round_to):
    score = "score" if round_to is None else f"round(score, {round_to}) AS score"
    return (spark.createDataFrame(shard_topk, schema=_TOPK.names)
            .repartition(1)
            .selectExpr("*", "cast(row_number() OVER (PARTITION BY query_id "
                        "ORDER BY score DESC, doc_id ASC) AS bigint) AS rank")
            .where("rank <= k")
            .selectExpr("query_id", "rank", "doc_id", score)
            .orderBy("query_id", "rank"))


def _shard_topks(seed: int, n_queries: int = 12, n_salts: int = 4) -> pa.Table:
    """Per query: k in {1, 2, 5, 50}, a few salts' rows each (doc ids in
    their salt's residue class), scores drawn from a small pool so equal
    scores tie at and across the k-th place, rows in shuffled order."""
    rng = np.random.default_rng(seed)
    pool = np.array([0.5, 1.00005, 1.25, 2.0, 3.14159265, 7.77775])
    q, d, s, k = [], [], [], []
    for qid in rng.permutation(n_queries):
        kq = int(rng.choice([1, 2, 5, 50]))
        for salt in rng.choice(n_salts, size=int(rng.integers(1, n_salts + 1)),
                               replace=False):
            n = int(rng.integers(1, 8))
            docs = salt + n_salts * rng.choice(1000, size=n, replace=False)
            scores = np.where(rng.random(n) < 0.7, rng.choice(pool, n),
                              rng.random(n) * 8)
            q += [qid] * n
            d += docs.tolist()
            s += scores.tolist()
            k += [kq] * n
    o = rng.permutation(len(q))
    return pa.table([pa.array(np.array(q)[o], pa.int32()),
                     pa.array(np.array(d)[o], pa.int64()),
                     pa.array(np.array(s)[o], pa.float64()),
                     pa.array(np.array(k)[o], pa.int32())], schema=_TOPK)


@pytest.mark.parametrize("round_to", [None, 4])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_merge_equals_window_ranking(spark, seed, round_to):
    table = _shard_topks(seed)
    assert set(table.column("k").to_pylist()) >= {1, 50}  # k=1 and k > hits
    got = _merge_shard_topks(spark, table, round_to)
    exp = _window_ranked(spark, table, round_to)
    assert got.schema == exp.schema
    assert got.collect() == exp.collect()


@pytest.mark.parametrize("round_to", [None, 4])
def test_merge_of_no_rows_keeps_the_schema(spark, round_to):
    empty = _TOPK.empty_table()
    got = _merge_shard_topks(spark, empty, round_to)
    exp = _window_ranked(spark, empty, round_to)
    assert got.schema == exp.schema
    assert got.collect() == []

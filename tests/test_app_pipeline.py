"""Config-driven pipeline (reference A1–A10 lifecycle): sources→views, prep
statements, {lastRun} incremental predicate, keyed upsert, state-on-success."""

import json
import os

import pytest

from elasticsearch_data_import_handler_spark.app import (
    get_last_run,
    run_pipeline,
)
from elasticsearch_data_import_handler_spark.config import load_config


@pytest.fixture()
def cfg_path(tmp_path, sf_dir):
    cfg = {
        "stateDir": str(tmp_path / "state"),
        "sources": {
            "filesystem": [
                {"directory": sf_dir, "filespecs": ["events.parquet"],
                 "format": "parquet", "sparkTable": "events"},
            ],
            "table": [
                {"path": f"{sf_dir}/documents.parquet", "sparkTable": "documents"},
            ],
        },
        "prepStatements": [
            "CREATE OR REPLACE TEMPORARY VIEW recent_events AS "
            "SELECT * FROM events WHERE event_type <> 'error'",
        ],
        "importSteps": [
            {"statements": [
                {"id": "latest_event_per_user",
                 "sqlQuery": "SELECT user_id, event_id, ts, event_type "
                             "FROM recent_events WHERE ts > timestamp '{lastRun}'",
                 "idField": "user_id", "orderField": "ts",
                 "targetTable": str(tmp_path / "out" / "latest_events")},
                {"id": "pages_index",
                 "sqlQuery": "SELECT concat('doc://', source, '/', doc_id) AS url, "
                             "timestamp '2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id) AS warc_ts, "
                             "cast(concat('<html><body>', text, '</body></html>') AS binary) AS html, "
                             "text, lang FROM documents",
                 "idField": "url",
                 "targetIndex": str(tmp_path / "out" / "docs_index"),
                 "newIndexSettings": {"tau": 1000, "nBuckets": 4}},
            ]},
        ],
    }
    p = tmp_path / "config.json"
    p.write_text(json.dumps(cfg))
    return str(p)


def test_pipeline_end_to_end(spark, cfg_path, tmp_path):
    cfg = load_config(cfg_path)
    report = run_pipeline(spark, cfg)
    assert [r["status"] for r in report] == ["ok", "ok"], report
    # upsert target: one row per user_id
    out = spark.read.parquet(str(tmp_path / "out" / "latest_events"))
    assert out.count() == out.select("user_id").distinct().count()
    # index target: committed and queryable
    from elasticsearch_data_import_handler_spark.operators.wand import bm25_topk_wand
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader

    reader = IndexReader(spark, str(tmp_path / "out" / "docs_index"))
    rows = bm25_topk_wand(spark, reader).collect()
    assert len(rows) > 0
    # state advanced (A6): lastRun recorded per statement
    assert get_last_run(cfg, "latest_event_per_user") != "1970-01-01 00:00:00"

    # second run: {lastRun} predicate filters everything out → 0 new rows but
    # the keyed upsert keeps the table intact (idempotent re-run, A5/A9)
    before = out.count()
    report2 = run_pipeline(spark, cfg)
    assert [r["status"] for r in report2] == ["ok", "ok"], report2
    after = spark.read.parquet(str(tmp_path / "out" / "latest_events")).count()
    assert after == before


def test_jdbc_source_executable_path(spark, tmp_path):
    """A1: jdbc sources parse into the config model and reach an actual
    ``spark.read.format('jdbc')`` load — in this sandbox no driver jar
    ships, so the load must fail with an actionable driver/classpath error
    (NOT a config-layer rejection)."""
    p = tmp_path / "jdbc.json"
    p.write_text(json.dumps({
        "stateDir": str(tmp_path / "state"),
        "sources": {"jdbc": [{
            "url": "jdbc:postgresql://db.example:5432/crawl",
            "dbtable": "public.pages", "sparkTable": "pages_db",
            "driver": "org.postgresql.Driver",
            "options": {"partitionColumn": "id", "numPartitions": "8",
                        "lowerBound": "0", "upperBound": "1000000"},
        }]},
    }))
    cfg = load_config(str(p))
    assert cfg.jdbc_sources[0].dbtable == "public.pages"
    with pytest.raises(RuntimeError, match="JDBC source 'pages_db'"):
        run_pipeline(spark, cfg)


def test_jdbc_config_requires_table_or_query(tmp_path):
    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"sources": {"jdbc": [{"url": "jdbc:h2:mem",
                                                   "sparkTable": "t"}]}}))
    with pytest.raises(ValueError, match="dbtable or query"):
        load_config(str(p))


def test_upsert_touches_only_affected_partitions(spark, tmp_path):
    """The keyed upsert must rewrite ONLY the hash partitions its incoming
    ids map to — untouched partitions' data files stay byte-identical on
    disk (same inode set)."""
    import glob

    from elasticsearch_data_import_handler_spark.app import (
        UPSERT_PARTITIONS, upsert_table)
    from pyspark.sql import functions as F

    target = str(tmp_path / "upsert_tbl")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    n = upsert_table(base, target, "k", "")
    assert n == 200
    files_before = {p: set(glob.glob(f"{target}/__pkey={p}/*.parquet"))
                    for p in range(UPSERT_PARTITIONS)}
    # single-key upsert → exactly one affected partition
    one = spark.createDataFrame([(7, 999)], "k long, v long")
    n2 = upsert_table(one, target, "k", "")
    assert n2 == 200  # key 7 replaced, not appended
    touched = [p for p in range(UPSERT_PARTITIONS)
               if set(glob.glob(f"{target}/__pkey={p}/*.parquet")) != files_before[p]]
    assert len(touched) == 1
    out = spark.read.parquet(target)
    assert out.filter("k = 7").first()["v"] == 999
    assert out.count() == 200


def test_upsert_survives_crash_before_meta_write(spark, tmp_path):
    """Crash window: data written into __pkey dirs but the meta file never
    landed.  The next upsert must still recognize the partitioned layout
    (else it would dynamic-overwrite affected partitions with incoming-only
    rows — silent data loss)."""
    import os

    from elasticsearch_data_import_handler_spark.app import (
        _upsert_meta_path, upsert_table)
    from pyspark.sql import functions as F

    target = str(tmp_path / "crash_tbl")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    assert upsert_table(base, target, "k", "") == 200
    os.remove(_upsert_meta_path(target))  # simulate the crash window
    one = spark.createDataFrame([(7, 999)], "k long, v long")
    assert upsert_table(one, target, "k", "") == 200
    out = spark.read.parquet(target)
    assert out.count() == 200
    assert out.filter("k = 7").first()["v"] == 999
    assert os.path.exists(_upsert_meta_path(target))  # meta restored


def test_upsert_migration_retry_after_crash(spark, tmp_path):
    """A legacy (top-level parquet) target whose first migration crashed
    mid-write leaves stray __pkey dirs next to the still-authoritative
    legacy files — the retried migration must rebuild from the legacy files
    and drop the remnants."""
    import glob
    import os

    from elasticsearch_data_import_handler_spark.app import upsert_table
    from pyspark.sql import functions as F

    target = str(tmp_path / "legacy_tbl")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    base.coalesce(1).write.parquet(target)  # legacy layout
    # stray remnant of a crashed migration: a partition with ghost rows
    spark.createDataFrame([(12345, -1)], "k long, v long") \
        .write.parquet(os.path.join(target, "__pkey=3"))
    one = spark.createDataFrame([(7, 999)], "k long, v long")
    assert upsert_table(one, target, "k", "") == 100
    out = spark.read.parquet(target)
    assert out.count() == 100  # ghost row gone, legacy rows intact
    assert out.filter("k = 7").first()["v"] == 999
    assert not glob.glob(os.path.join(target, "*.parquet"))  # migrated


def test_iceberg_source_catalog_gate(spark, tmp_path):
    """Iceberg sources parse into the config model and are catalog-gated
    (the JDBC/A1 precedent): without the runtime jar + catalog conf the
    registration raises ONE actionable error naming both, not a raw
    ClassNotFoundException, and never silently degrades to parquet."""
    p = tmp_path / "ice.json"
    p.write_text(json.dumps({
        "stateDir": str(tmp_path / "state"),
        "catalog": {"name": "lake"},
        "sources": {"iceberg": [{
            "table": "lake.crawl.pages", "sparkTable": "pages_ice",
            "incremental": True,
        }]},
    }))
    cfg = load_config(str(p))
    assert cfg.catalog == "lake"
    assert cfg.iceberg_sources[0].incremental
    with pytest.raises(RuntimeError, match="catalog 'lake'"):
        run_pipeline(spark, cfg)


def test_iceberg_reader_actionable_without_runtime(spark):
    """Even with the catalog conf set, a session without the Iceberg jar
    must surface the runtime hint from the real read path (the format
    lookup fails inside spark.read.format('iceberg').load)."""
    from elasticsearch_data_import_handler_spark.sources import iceberg as ice

    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert ice.catalog_configured(spark, "lake")
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            ice.read_snapshot_range(spark, "lake.crawl.pages",
                                    start_snapshot_id=1, end_snapshot_id=2)
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            ice.current_snapshot_id(spark, "lake.crawl.pages")
    finally:
        spark.conf.unset("spark.sql.catalog.lake")


def test_iceberg_sink_requires_catalog_config(spark, tmp_path):
    """targetIcebergTable without catalog.name is a config-layer error;
    with catalog.name but no runtime the statement reports the actionable
    error through the A10 report (run fails non-zero, not a crash)."""
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({"importSteps": [{"statements": [{
        "id": "s1", "sqlQuery": "SELECT 1 AS id",
        "targetIcebergTable": "lake.out.t", "idField": "id"}]}]}))
    with pytest.raises(ValueError, match="catalog.name"):
        load_config(str(bad))

    ok = tmp_path / "ok.json"
    ok.write_text(json.dumps({
        "stateDir": str(tmp_path / "state"),
        "catalog": {"name": "lake"},
        "importSteps": [{"statements": [{
            "id": "s1", "sqlQuery": "SELECT 1 AS id, 'a' AS v",
            "targetIcebergTable": "lake.out.t", "idField": "id"}]}],
    }))
    cfg = load_config(str(ok))
    report = run_pipeline(spark, cfg)
    assert report[0]["status"] == "error"
    assert "catalog 'lake'" in report[0]["error"]


def test_iceberg_merge_upsert_reaches_sql_layer(spark):
    """merge_upsert builds the one-row-per-key source and issues a real
    MERGE INTO through the session catalog; without the Iceberg catalog the
    failure is wrapped actionably and the temp view is cleaned up."""
    from elasticsearch_data_import_handler_spark.sources import iceberg as ice

    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 7, "b"), (2, 3, "c")], "id int, ver int, v string")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        ice.merge_upsert(spark, df, "lake.out.t", "id", order_field="ver")
    leftover = [v.name for v in spark.catalog.listTables()
                if v.name.startswith("__eidh_merge_src")]
    assert leftover == []


def test_pipeline_quality_filter_and_delete_by_query(spark, tmp_path, sf_dir):
    """Round-4 advice #9: qualityFilter and deleteByQuery as config-declared
    steps — the reference's config-driven workflow reaches both operators
    with no Python.  The filtered index holds exactly the operator's keep
    set; the delete statement tombstones every 'spark' doc; a second run is
    idempotent (0 new tombstones)."""
    from elasticsearch_data_import_handler_spark.operators.textquality import (
        quality_filter)
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader

    idx = str(tmp_path / "out" / "qidx")
    # gate on length only — the synthetic corpus's 30-word vocabulary sits
    # outside the default CCNet loglik band, so the band is opened wide here
    thresholds = {"min_tokens": 50, "min_quality": 0.0,
                  "max_repetition": 1.0, "min_mean_loglik": -1000000.0,
                  "max_mean_loglik": 1000000.0}
    cfg_d = {
        "stateDir": str(tmp_path / "state"),
        "sources": {"table": [
            {"path": f"{sf_dir}/documents.parquet", "sparkTable": "documents"},
        ]},
        "importSteps": [
            {"statements": [
                {"id": "filtered_index",
                 "sqlQuery":
                     "SELECT concat('doc://', source, '/', doc_id) AS url, "
                     "timestamp '2026-01-01 00:00:00' + "
                     "make_interval(0,0,0,0,0,0,doc_id) AS warc_ts, "
                     "cast(concat('<html><body>', text, '</body></html>') "
                     "AS binary) AS html, text, lang FROM documents",
                 "idField": "url",
                 "targetIndex": idx,
                 "newIndexSettings": {"tau": 1000, "nBuckets": 4},
                 "qualityFilter": {"idField": "url",
                                   "thresholds": thresholds}}]},
            {"statements": [
                {"id": "purge_spark_docs",
                 "targetIndex": idx,
                 "deleteByQuery": {"must": ["spark"]}}]},
        ],
    }
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(cfg_d))
    cfg = load_config(str(p))
    report = run_pipeline(spark, cfg)
    assert [r["status"] for r in report] == ["ok", "ok"], report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keep = quality_filter(docs, thresholds=thresholds).filter("keep").count()
    assert 0 < keep < docs.count()          # the filter actually gated
    assert report[0]["rows"] == keep        # indexed exactly the keep set
    assert report[1]["rows"] > 0            # the delete found victims

    reader = IndexReader(spark, idx)
    assert bool_query(spark, reader, must=["spark"]).count() == 0
    assert reader.state.n_docs == keep - report[1]["rows"]  # active-doc accounting

    # idempotent re-run: no surviving doc matches, so 0 new tombstones
    report2 = run_pipeline(spark, cfg)
    assert [r["status"] for r in report2] == ["ok", "ok"], report2
    assert report2[1]["rows"] == 0


def test_delete_by_query_statement_validation(spark, tmp_path):
    from elasticsearch_data_import_handler_spark.app import run_statement
    from elasticsearch_data_import_handler_spark.config import Statement

    from elasticsearch_data_import_handler_spark.config import PipelineConfig

    pc = PipelineConfig(state_dir=str(tmp_path / "state"))
    with pytest.raises(ValueError, match="needs targetIndex"):
        run_statement(spark, pc, Statement(id="d1",
                                           delete_by_query={"must": ["x"]}))
    with pytest.raises(ValueError, match="take no SQL"):
        run_statement(spark, pc, Statement(
            id="d2", sql_query="SELECT 1", target_index=str(tmp_path / "i"),
            delete_by_query={"must": ["x"]}))


def test_pipeline_update_by_query(spark, tmp_path, sf_dir):
    """updateByQuery as a config-declared step (round 5): build an index,
    then a second statement rewrites every 'spark' doc through transformSql
    (the painless analog) and commits as an upsert batch; the marker term
    then matches exactly the victim count and active-doc accounting holds."""
    from elasticsearch_data_import_handler_spark.operators.textsearch import (
        bool_query)
    from elasticsearch_data_import_handler_spark.plans.build import IndexReader

    idx = str(tmp_path / "out" / "uidx")
    src_sql = ("SELECT concat('doc://', source, '/', doc_id) AS url, "
               "timestamp '2026-01-01 00:00:00' + "
               "make_interval(0,0,0,0,0,0,doc_id) AS warc_ts, "
               "cast(concat('<html><body>', text, '</body></html>') "
               "AS binary) AS html, text, lang FROM documents")
    cfg_d = {
        "stateDir": str(tmp_path / "state"),
        "sources": {"table": [
            {"path": f"{sf_dir}/documents.parquet", "sparkTable": "documents"},
        ]},
        "importSteps": [
            {"statements": [
                {"id": "base_index", "sqlQuery": src_sql, "idField": "url",
                 "targetIndex": idx,
                 "newIndexSettings": {"tau": 1000, "nBuckets": 4}}]},
            {"statements": [
                {"id": "mark_spark_docs", "sqlQuery": src_sql,
                 "targetIndex": idx,
                 "updateByQuery": {
                     "must": ["spark"],
                     "transformSql": "concat(text, ' zzpipelinemark')"}}]},
        ],
    }
    p = tmp_path / "ucfg.json"
    p.write_text(json.dumps(cfg_d))
    cfg = load_config(str(p))
    report = run_pipeline(spark, cfg)
    assert [r["status"] for r in report] == ["ok", "ok"], report
    assert report[1]["rows"] > 0

    reader = IndexReader(spark, idx)
    assert (bool_query(spark, reader, must=["zzpipelinemark"]).count()
            == report[1]["rows"])
    # upsert, not insert: active-doc count unchanged
    assert reader.state.n_docs == report[0]["rows"]


def test_temperature_weights_recipe(spark):
    from elasticsearch_data_import_handler_spark.operators.trainprep import (
        temperature_weights)

    docs = spark.createDataFrame(
        [(i, "en" if i < 90 else "mi") for i in range(100)],
        ["doc_id", "lang"])
    w = {r["stratum"]: r for r in
         temperature_weights(docs, "lang", alpha=0.5).collect()}
    import math
    tot = math.sqrt(90) + math.sqrt(10)
    assert abs(w["en"]["weight"] - round(math.sqrt(90) / tot, 6)) < 1e-9
    assert w["en"]["n_docs"] == 90
    # alpha<1 upweights the low-resource stratum vs natural proportions
    assert w["mi"]["weight"] > 0.10
    # alpha=1 → natural proportions
    w1 = {r["stratum"]: r["weight"] for r in
          temperature_weights(docs, "lang", alpha=1.0).collect()}
    assert abs(w1["en"] - 0.9) < 1e-9

"""``session.get_spark``: Python workers fork from the engine's daemon with
the engine already imported, and ``extra`` settings merge with the ones the
engine needs."""

import os
import sys
import uuid

import pyarrow as pa

from elasticsearch_data_import_handler_spark.session import (
    IMPORT_ROOT, session_conf)


def test_fresh_worker_inherits_the_engine_imports(spark):
    """A worker forked for a new worker environment (a fresh daemon, so a
    fresh fork) has pandas, pyarrow.compute, the WAND kernel module and the
    zipcache wrapper before its UDF is unpickled: the probe below imports
    none of them, and its closure references no engine code."""
    sc = spark.sparkContext
    marker = f"EIDH_FRESH_WORKER_{uuid.uuid4().hex}"
    modules = ("pandas", "pyarrow.compute",
               "elasticsearch_data_import_handler_spark.operators.wand")

    def probe(batches):
        import zipimport

        row = {m: [m in sys.modules] for m in modules}
        row["zipcache"] = [getattr(zipimport.zipimporter.invalidate_caches,
                                   "_eidh_lazy", False)]
        row["marker"] = [os.environ.get(marker) == "1"]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(row)

    schema = ", ".join(f"`{c}` boolean" for c in (*modules, "zipcache", "marker"))
    # Spark keeps one daemon per worker environment: an environment no task
    # has used yet starts a new daemon, whose first worker is a fresh fork
    sc.environment[marker] = "1"
    try:
        rows = spark.range(4, numPartitions=2).mapInArrow(probe, schema).collect()
    finally:
        del sc.environment[marker]
    assert len(rows) == 2
    for r in rows:
        assert r.asDict() == dict.fromkeys((*modules, "zipcache", "marker"), True)


def test_session_conf_merges_extra():
    conf = session_conf(4)
    assert conf["spark.python.daemon.module"] == \
        "elasticsearch_data_import_handler_spark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == IMPORT_ROOT
    assert os.path.isfile(os.path.join(
        IMPORT_ROOT, "elasticsearch_data_import_handler_spark", "daemon.py"))

    conf = session_conf(4, extra={"spark.executorEnv.PYTHONPATH": "/x/lib",
                                  "spark.python.daemon.module": "pyspark.daemon",
                                  "spark.ui.enabled": "true"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [IMPORT_ROOT, "/x/lib"])
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.ui.enabled"] == "true"

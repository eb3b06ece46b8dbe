"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the same settings translate to a
real cluster (AQE, Arrow, shuffle-partition sizing).  Shuffle partitions
default to the core count — at 100 TB you would instead size them from input
bytes (``~input_bytes / 128MB``) and let AQE coalesce; see plans/build.py.

Python workers are forked from the engine's own daemon (``daemon.py``),
which imports numpy, pyarrow, pandas and the engine's kernel modules once,
before it forks.  A batch that runs more Python tasks at once than there
are workers forks new ones, so what a new worker pays lands on a request,
not on set-up.  From the stock ``pyspark.daemon`` a new worker imports all
of that itself: 0.66 s from the fork to the return of its first kernel
call, half of it in the first ``pa.array``, which makes pyarrow import
pandas; from this daemon, 25 ms (``bench_extra.py task_overhead``, idle
4-CPU host).  A worker that never imports the package also re-reads
``pyspark.zip`` on every task (see ``zipcache``); the daemon installs the
lazy re-read before it forks.  The daemon is imported from the package's
import root — this checkout, or the ``engine.zip`` given to ``--py-files``
— which ``get_spark`` puts on the workers' ``PYTHONPATH``; on a cluster
that path must exist on the executors, or pass
``extra={"spark.python.daemon.module": "pyspark.daemon"}``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory (or zip archive) the package is imported from
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_conf(cpus: int, shuffle_partitions: int | None = None,
                 extra: dict | None = None) -> dict[str, str]:
    """The Spark settings ``get_spark`` applies.  ``extra`` overrides them,
    except that an ``extra`` PYTHONPATH is appended to the import root."""
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    extra = dict(extra or {})
    path = (IMPORT_ROOT, extra.pop("spark.executorEnv.PYTHONPATH", None))
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow batch sizing (SURVEY.md §4.2 item 4): big enough that narrow
        # numeric streams (the posting-encode input) aren't dominated by
        # per-batch framing, small enough that html-wide batches stay ~32 MB
        "spark.sql.execution.arrow.maxRecordsPerBatch": "32768",
        "spark.driver.memory": os.environ.get("EIDH_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": f"{__package__}.daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(p for p in path if p),
    }
    conf.update(extra)
    return conf


def get_spark(app: str = "eidh-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None,
              ) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for k, v in session_conf(cpus, shuffle_partitions, extra).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""PySpark worker daemon that forks workers with the engine already imported.

Run by Spark as ``python -m elasticsearch_data_import_handler_spark.daemon``
(``spark.python.daemon.module``, set by ``session.get_spark``).  It imports
what every engine task would import after its fork, then serves forks
exactly like ``pyspark.daemon``.  Nothing here starts a thread or touches
Spark.
"""

import importlib

import numpy  # noqa: F401
import pandas  # noqa: F401  (pyarrow imports it lazily, at the first pa.array)
import pyarrow  # noqa: F401
import pyarrow.compute  # noqa: F401
import pyarrow.parquet  # noqa: F401  (segment doc maps, plans/docmap.py)
from pyspark import daemon

# the kernel modules Python UDFs unpickle into; the package installs zipcache
from .functions import varbyte  # noqa: F401
from .operators import wand  # noqa: F401
from .plans import build  # noqa: F401

# read every zip archive once here, so no forked worker re-reads one
importlib.invalidate_caches()

if __name__ == "__main__":
    daemon.manager()

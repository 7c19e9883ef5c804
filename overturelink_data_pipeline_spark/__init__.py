"""overturelink_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference ETL pipeline ``worldbank/OvertureLink-Data-Pipeline``
(surveyed in SURVEY.md), extended with large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns).

Design stance (SURVEY.md §7.0):

- DataFrame-first, SQL-exposed: every operator is a declarative
  DataFrame plan; Catalyst does pushdown/pruning/join selection.
- Geometry is WKB ``BinaryType`` + a pure-numpy codec behind Arrow
  pandas UDFs (no native GEOS dependency required).
- No custom Catalyst rules; one plan-construction invariant — cheap
  bbox conjuncts precede any geometry UDF predicate.
- A Python worker that imports the package stops re-reading Spark's
  own archives before every task (``invalidate_caches`` below,
  docs/OPERATIONS.md §12).
"""

import importlib
import os
import sys
import zipimport

_invalidate_all = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the zipimporters of the
    archives on the worker's ``PYTHONPATH``.

    pyspark runs ``importlib.invalidate_caches()`` before every task in
    a reused worker, and since Python 3.10 that makes each zipimporter
    re-read its whole archive directory. Spark's worker factory puts
    its own ``pyspark.zip``, py4j zip and spark-core jar on the
    worker's ``PYTHONPATH`` (1,328 entries in pyspark.zip alone), and
    nothing replaces them while the worker lives, so their importers
    are set aside. Every other finder is invalidated as before:
    ``addPyFile`` zips and the SparkFiles directory are added to
    ``sys.path`` per task, not to ``PYTHONPATH``, and are still re-read.
    """
    fixed_archives = {
        p
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if os.path.isabs(p) and os.path.isfile(p)
    }
    cache = sys.path_importer_cache
    fixed = {
        path: finder
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and finder.archive in fixed_archives
    }
    for path in fixed:
        del cache[path]
    try:
        _invalidate_all()
    finally:
        cache.update(fixed)


# A worker imports the package when it unpickles its first engine UDF,
# whoever built the session; a driver never has pyspark.worker loaded.
if "pyspark.worker" in sys.modules:
    importlib.invalidate_caches = invalidate_caches

from overturelink_data_pipeline_spark.registry import (  # noqa: E402
    ORACLE,
    QUERIES,
    spark_query,
)
from overturelink_data_pipeline_spark.session import get_spark  # noqa: E402

__all__ = ["ORACLE", "QUERIES", "spark_query", "get_spark"]

__version__ = "0.1.0"

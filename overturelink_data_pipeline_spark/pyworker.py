"""PySpark daemon entry of engine sessions (``spark.python.daemon.module``).

Every task in a reused Python worker runs pyspark's
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Since Python 3.10 that makes each
zipimporter re-read its whole archive directory, and a warm worker holds
16 of them, one per imported subpackage of pyspark.zip (1,328 entries),
the py4j zip and the spark-core jar. A trivial pandas UDF over 4 tasks
on a 4-vCPU box cost about 0.3 s more than the same query without it;
without the re-reads, 0.08 s.

The archives on ``sys.path`` when the daemon starts are those three,
placed there by Spark's worker factory from its installation; nothing
replaces them while a worker lives. Their zipimporters are skipped.
Every other finder is invalidated as before, so ``addPyFile`` zips and
the SparkFiles directory, path entries added per task, are still
revalidated.
"""

import importlib
import os
import sys
import zipimport

_FIXED_ARCHIVES = frozenset(
    p for p in sys.path if os.path.isabs(p) and os.path.isfile(p)
)
_invalidate_all = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` minus the fixed archives' zipimporters."""
    cache = sys.path_importer_cache
    fixed = {
        path: finder
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and finder.archive in _FIXED_ARCHIVES
    }
    for path in fixed:
        del cache[path]
    try:
        _invalidate_all()
    finally:
        cache.update(fixed)


if __name__ == "__main__":
    from pyspark.daemon import manager

    importlib.invalidate_caches = invalidate_caches
    manager()

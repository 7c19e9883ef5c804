"""Dump ``explain("formatted")`` for every registered query into
``plans/r14/<query>_<tag>.txt``, for ad-hoc diffs of a plan before
and after a change.

Usage::

    python scripts/dump_plans.py before [sf_dir] [query ...]

``tag`` is the first argument (``before``/``after``).  With query names
given, only those are dumped (re-dump after an optimization); without,
all registered queries are.  localCheckpoint is left ACTIVE (unlike the
plan lint) so the dumped plan is the one the bench actually runs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from overturelink_data_pipeline_spark import registry
from overturelink_data_pipeline_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r14",
    )
    os.makedirs(out_dir, exist_ok=True)

    registry.load_all()
    spark = get_spark(app_name="plan-dump")
    names = sorted(only or registry.QUERIES)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # keep going; record the failure
            plan = f"ERROR building {name}: {exc!r}\n"
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan)} chars -> {path}", flush=True)
        # drop persisted frames the query construction left behind so
        # later plans don't silently change shape (InMemoryRelation)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()

"""Theme-dump mirror (S3 — reference ensure_dump, source.py:1092-1233).

The reference bulk-copies whole Overture themes to local parquet
(per-type ``COPY ... TO`` with zstd + row-group sizing, a metadata
sidecar, and cleanup on partial failure) so later country extracts
scan locally. Spark shape: per-type ``read.parquet(src) →
write.parquet(dst)`` — a fully distributed copy that also re-compacts
small source files — plus the same sidecar/validation/cleanup
semantics. Each type's row count in the sidecar is observed inside its
copy's own write (sinks/observed.py).

Scale: the copy parallelizes per input split (not per file), so a
50 GB theme (reference's transportation estimate, source.py:1135)
moves at cluster aggregate bandwidth; ``MAX_RECORDS_PER_FILE`` bounds
output file sizes the way the reference's ROW_GROUP_SIZE bounds row
groups.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from overturelink_data_pipeline_spark.plans.overture import (
    discover_types,
    expected_source_columns,
    theme_path,
)
from overturelink_data_pipeline_spark.sinks.observed import observed_write

MAX_RECORDS_PER_FILE = 100_000


def dump_sidecar_path(dump_base: str, theme: str) -> str:
    return os.path.join(dump_base, f"theme={theme}", "_dump_metadata.json")


def dump_is_valid(dump_base: str, theme: str, release: str) -> bool:
    """ONE implementation of the dump-trust contract (review r10 —
    ensure_dump and the fallback reader each encoded it): the sidecar
    exists, parses, says complete, and matches ``release``. A
    truncated/corrupt sidecar reads as invalid (re-mirror), never a
    crash."""
    side = dump_sidecar_path(dump_base, theme)
    if not os.path.exists(side):
        return False
    try:
        with open(side) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return False
    return bool(meta.get("complete")) and meta.get("release") == release


def ensure_dump(
    spark: SparkSession,
    src_base: str,
    dump_base: str,
    theme: str,
    types: list[str] | None = None,
    release: str = "",
) -> dict:
    """Mirror one theme into the dump layout; idempotent (a valid
    sidecar short-circuits, reference source.py:1102-1115); partial
    failures clean up the incomplete theme directory (source.py:1222-
    1233). Returns the sidecar dict, whose per-type row counts are
    observed while each type is written."""
    side = dump_sidecar_path(dump_base, theme)
    if dump_is_valid(dump_base, theme, release):
        with open(side) as f:
            return json.load(f)

    types = types or discover_types(spark, src_base, theme)
    theme_dir = os.path.join(dump_base, f"theme={theme}")
    # PRE-FLIGHT all schema validation before the first byte is written:
    # a validation failure must not trigger the cleanup below, which
    # would otherwise destroy a still-usable prior-release mirror that
    # this call never touched
    frames = {}
    for type_ in types:
        df = spark.read.parquet(theme_path(src_base, theme, type_))
        # the dump mirrors RAW source schema, so validate the
        # projection's source roots (``names``), not its output
        # aliases (``name``); the two checks are independent: a type
        # can be missing expected attribute columns while still
        # carrying geometry (and vice versa), and either defect must
        # block the dump
        missing = expected_source_columns(type_) - set(df.columns) - {"geometry"}
        if missing:
            raise ValueError(f"{theme}/{type_}: missing columns {sorted(missing)}")
        if "geometry" not in df.columns:
            raise ValueError(f"{theme}/{type_}: missing geometry column")
        frames[type_] = df
    # Invalidate the OLD sidecar before the first overwrite: a hard
    # kill (SIGKILL/OOM) mid-rewrite skips the except-cleanup below,
    # and a surviving stale sidecar would claim the prior release is
    # complete over mixed/partial data. With the sidecar gone first,
    # a torn rewrite is correctly seen as an invalid dump.
    if os.path.exists(side):
        os.remove(side)
    try:
        rows_per_type: dict[str, int] = {}
        for type_ in types:
            dst = theme_path(dump_base, theme, type_)
            rows_per_type[type_], _ = observed_write(
                frames[type_],
                lambda d: (
                    d.write.mode("overwrite")
                    .option("compression", "zstd")
                    .option("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
                    .parquet(dst)
                ),
            )
        meta = {
            "theme": theme,
            "types": types,
            "release": release,
            "rows": rows_per_type,
            "dumped_at": datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ"),
            "complete": True,
        }
        os.makedirs(theme_dir, exist_ok=True)
        with open(side, "w") as f:
            json.dump(meta, f)
        return meta
    except Exception:
        # cleanup-on-failure: a partial dump must not satisfy the
        # idempotence check on the next run
        if os.path.exists(theme_dir):
            shutil.rmtree(theme_dir)
        raise

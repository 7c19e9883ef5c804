"""Round-14 changes (VERDICT r13 asks).

Ask #1 (the gate item): the dedup_lifecycle_probe index lived under
the FIXED name ``dlp_index`` in the process-shared ``spark-warehouse/``
while the default catalog is per-process — so one process's rebuild
(whose catalog cannot see another process's live table)
``_clean_orphan_location``-deleted the part files a concurrent process
was scanning: the ``FileNotFoundException`` under ``dlp_index_ns``
that killed VERIFY_r13's pytest gate. Fix: a per-PROCESS namespace
(``dlp_index_p{pid}``) plus a dead-pid reaper. These tests simulate
the stale/foreign-warehouse states directly.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote, urlparse

from overturelink_data_pipeline_spark import registry, testing

registry.load_all()


def _warehouse_root(spark) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(wh)
    assert parsed.scheme in ("file", "")
    return unquote(parsed.path) if parsed.scheme else wh


def _plant_corrupt_index(root: str, base: str) -> list[str]:
    """Simulate another process's stale/corrupt release: directories
    for all four index tables containing a parquet part file that is
    then deleted — the exact on-disk state (listing says the file
    exists, read finds it gone) that poisoned the r13 driver gate."""
    dirs = []
    for suffix in ("post", "ns", "hcount", "meta"):
        d = os.path.join(root, f"{base}_{suffix}")
        os.makedirs(d, exist_ok=True)
        part = os.path.join(d, "part-00000-dead.c000.zstd.parquet")
        with open(part, "wb") as fh:
            fh.write(b"PAR1corrupt")
        os.remove(part)
        # leave an empty _SUCCESS so the dir looks like a real table
        open(os.path.join(d, "_SUCCESS"), "w").close()
        dirs.append(d)
    return dirs


def test_lifecycle_index_namespace_is_per_process(spark, sf_dir):
    from overturelink_data_pipeline_spark.operators.lifecycle import (
        process_index_name,
    )

    name = process_index_name("dlp_index")
    assert name == f"dlp_index_p{os.getpid()}"


def test_lifecycle_probe_ignores_stale_fixed_name_warehouse(spark, sf_dir):
    """The r13 failure state: corrupt ``dlp_index_*`` directories (the
    pre-r14 fixed name) sitting in the shared warehouse. The query must
    neither read nor trip over them — and must stay oracle-true."""
    root = _warehouse_root(spark)
    planted = _plant_corrupt_index(root, "dlp_index")
    try:
        fn = registry.QUERIES["dedup_lifecycle_probe"]
        con = testing.duckdb_connect(sf_dir)
        oracle = con.execute(
            registry.ORACLE["dedup_lifecycle_probe"]
        ).fetchdf()
        res = testing.compare("dedup_lifecycle_probe", fn(spark, sf_dir), oracle)
        assert res.rows_match and res.schema_match and res.hash_match, res
    finally:
        for d in planted:
            shutil.rmtree(d, ignore_errors=True)


def test_lifecycle_probe_survives_foreign_live_index(spark, sf_dir):
    """A CONCURRENT process's per-pid index (pid alive = our own pid
    here, which the reaper must skip; plus a corrupt dead-pid one it
    may remove) must never be read by this process's probe."""
    from overturelink_data_pipeline_spark.operators import lifecycle

    root = _warehouse_root(spark)
    # dead-pid leftovers: use a pid that cannot exist (> pid_max)
    dead = _plant_corrupt_index(root, "dlp_index_p99999999")
    # force the reaper to run again in this process
    lifecycle._REAPED.discard("dlp_index")
    fn = registry.QUERIES["dedup_lifecycle_probe"]
    try:
        out = fn(spark, sf_dir)
        assert out.count() > 0
        # the dead-pid corpse was reaped; our own live index was not
        for d in dead:
            assert not os.path.exists(d), d
        own = os.path.join(root, f"dlp_index_p{os.getpid()}_post")
        assert os.path.exists(own)
    finally:
        for d in dead:
            shutil.rmtree(d, ignore_errors=True)


def test_reaper_spares_live_pids(spark):
    """A dead pid's table directory, its release-stamp sidecar file and
    the stamp's Hadoop checksum are reaped; a live pid's index is not."""
    from overturelink_data_pipeline_spark.operators import lifecycle

    root = _warehouse_root(spark)
    base = "reaptest_idx"
    live = os.path.join(root, f"{base}_p{os.getpid()}_post")
    os.makedirs(live, exist_ok=True)
    dead = os.path.join(root, f"{base}_p99999998_post")
    os.makedirs(dead, exist_ok=True)
    dead_stamp = os.path.join(root, f"{base}_p99999998_stamp")
    dead_crc = os.path.join(root, f".{base}_p99999998_stamp.crc")
    for path in (dead_stamp, dead_crc):
        with open(path, "w") as f:
            f.write("v1:0:0")
    try:
        lifecycle._REAPED.discard(base)
        lifecycle.reap_dead_process_indexes(spark, base)
        assert os.path.exists(live)
        assert not os.path.exists(dead)
        assert not os.path.exists(dead_stamp)
        assert not os.path.exists(dead_crc)
    finally:
        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(dead, ignore_errors=True)
        for path in (dead_stamp, dead_crc):
            if os.path.exists(path):
                os.remove(path)


def test_lifecycle_warm_path_still_skips_rebuild(spark, sf_dir):
    """Within one process the stamp-skip warm path must survive the
    namespace change: second invocation probes, never rebuilds."""
    from overturelink_data_pipeline_spark.operators import dedup

    fn = registry.QUERIES["dedup_lifecycle_probe"]
    fn(spark, sf_dir).count()
    first_path = dedup.LAST_LIFECYCLE_PATH
    fn(spark, sf_dir).count()
    assert dedup.LAST_LIFECYCLE_PATH == "probe"
    assert first_path in ("rebuild", "probe")

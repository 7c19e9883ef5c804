"""Round-14 changes (VERDICT r13 asks).

Ask #1 (the gate item): the dedup_lifecycle_probe index lived under
the FIXED name ``dlp_index`` in the process-shared ``spark-warehouse/``
while the default catalog is per-process — so one process's rebuild
(whose catalog cannot see another process's live table)
``_clean_orphan_location``-deleted the part files a concurrent process
was scanning: the ``FileNotFoundException`` under ``dlp_index_ns``
that killed VERIFY_r13's pytest gate. Fix: a per-PROCESS namespace
(``dlp_index_p<owner token>``) whose constructor removes the entries of
owners that are gone. These tests simulate the stale/foreign-warehouse
states directly.
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
from urllib.parse import unquote, urlparse

from overturelink_data_pipeline_spark import registry, scratch, testing

registry.load_all()

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_lifecycle_index_namespace_is_per_process(spark, sf_dir, tmp_path):
    """One name for the life of a process (letters, digits and
    underscores), and another process gets a different one."""
    from overturelink_data_pipeline_spark.operators.lifecycle import (
        process_index_name,
    )

    name = process_index_name(spark, "dlp_index")
    assert name == process_index_name(spark, "dlp_index")
    assert re.fullmatch(r"dlp_index_p\w+", name), name
    child = (
        "import types;"
        "from overturelink_data_pipeline_spark.operators.lifecycle import"
        " process_index_name;"
        f"conf = types.SimpleNamespace(get=lambda key: {str(tmp_path)!r});"
        "print(process_index_name(types.SimpleNamespace(conf=conf), 'dlp_index'))"
    )
    theirs = subprocess.run(
        [sys.executable, "-c", child],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO_ROOT,
    ).stdout.strip()
    assert theirs.startswith("dlp_index_p") and theirs != name


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
    """A corrupt index left by a dead process must never be read by
    this process's probe: naming the index removes it, and this
    process's own index survives."""
    root = _warehouse_root(spark)
    # dead-pid leftovers: use a pid that cannot exist (> pid_max)
    dead = _plant_corrupt_index(root, "dlp_index_p99999999")
    fn = registry.QUERIES["dedup_lifecycle_probe"]
    try:
        out = fn(spark, sf_dir)
        assert out.count() > 0
        # the dead-pid corpse was reaped; our own live index was not
        for d in dead:
            assert not os.path.exists(d), d
        own = os.path.join(root, f"dlp_index_p{scratch.owner_token()}_post")
        assert os.path.exists(own)
    finally:
        for d in dead:
            shutil.rmtree(d, ignore_errors=True)


def test_reaper_spares_live_pids(spark):
    """Naming an index removes a dead pid's table directory, its
    release-stamp sidecar file and the stamp's Hadoop checksum, and the
    same set for this process's pid under another start time (a recycled
    pid); this process's own index is kept."""
    from overturelink_data_pipeline_spark.operators.lifecycle import (
        process_index_name,
    )

    root = _warehouse_root(spark)
    base = "reaptest_idx"
    live = os.path.join(root, f"{base}_p{scratch.owner_token()}_post")
    os.makedirs(live, exist_ok=True)
    gone = []
    for owner in ("99999998", f"{os.getpid()}t1"):
        table = os.path.join(root, f"{base}_p{owner}_post")
        os.makedirs(table, exist_ok=True)
        stamp = os.path.join(root, f"{base}_p{owner}_stamp")
        crc = os.path.join(root, f".{base}_p{owner}_stamp.crc")
        for path in (stamp, crc):
            with open(path, "w") as f:
                f.write("v1:0:0")
        gone += [table, stamp, crc]
    try:
        assert process_index_name(spark, base) == f"{base}_p{scratch.owner_token()}"
        assert os.path.exists(live)
        for path in gone:
            assert not os.path.exists(path), path
    finally:
        shutil.rmtree(live, ignore_errors=True)
        for path in gone:
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
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

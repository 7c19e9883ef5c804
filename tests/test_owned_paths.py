"""Owned per-process paths under a crash and a concurrent owner.

A child process with its own Spark session on the same warehouse and
scratch root is stopped in the middle of ``PostingIndex.build`` (its
``_post`` table written, its release stamp on disk). While it is live,
this process runs ``dedup_lifecycle_probe`` to oracle parity and the
child's entries survive. After a SIGKILL, the next call to each path
constructor removes every child leftover, plus planted entries that carry
this process's pid under another start time (a recycled pid), and keeps
this process's own entries.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from urllib.parse import unquote, urlparse

from overturelink_data_pipeline_spark import registry, scratch, testing

registry.load_all()

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os, sys, threading
from overturelink_data_pipeline_spark import registry, scratch
from overturelink_data_pipeline_spark.operators import lifecycle
from overturelink_data_pipeline_spark.session import get_spark

ready, sf_dir = sys.argv[1:3]
spark = get_spark(app_name="owned-paths-child", cpus="1")
leaf = scratch.process_dir("owned_paths", "leaf")
os.makedirs(leaf)
name = lifecycle.process_index_name(spark, "dlp_index")
lifecycle.write_release_stamp(spark, name, "v1:0:0")

def blocked_write_side(*args, **kwargs):
    with open(ready + ".tmp", "w") as f:
        json.dump({"token": scratch.owner_token(), "leaf": leaf}, f)
    os.rename(ready + ".tmp", ready)
    threading.Event().wait(300)
    os._exit(1)

lifecycle.PostingIndex._write_side = blocked_write_side
registry.load_all()
registry.QUERIES["dedup_lifecycle_probe"](spark, sf_dir)
"""


def _warehouse_root(spark) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(wh)
    assert parsed.scheme in ("file", "")
    return unquote(parsed.path) if parsed.scheme else wh


def _owned_by(root: str, token: str) -> list[str]:
    return sorted(e for e in os.listdir(root) if f"_p{token}_" in e)


def _wait_ready(child: subprocess.Popen, ready: str, timeout_s: float = 240) -> dict:
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(ready):
        if child.poll() is not None:
            raise AssertionError(f"child exited early with {child.returncode}")
        assert time.monotonic() < deadline, "child never reached build"
        time.sleep(0.2)
    with open(ready) as f:
        return json.load(f)


def test_crashed_owner_is_reaped_and_live_owner_is_not(
    spark, sf_dir, tmp_path, monkeypatch
):
    from overturelink_data_pipeline_spark.operators.lifecycle import (
        process_index_name,
    )

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    root = _warehouse_root(spark)
    ready = str(tmp_path / "ready.json")
    with open(tmp_path / "child.log", "w") as log:
        child = subprocess.Popen(
            [sys.executable, "-c", CHILD, ready, sf_dir],
            cwd=REPO_ROOT,
            stdout=log,
            stderr=subprocess.STDOUT,
        )
    # this process's pid under another start time: a recycled pid
    recycled = f"{os.getpid()}t1"
    planted_dirs = [
        os.path.join(root, f"dlp_index_p{recycled}_post"),
        scratch.scratch_root("owned_paths", f"pid-{recycled}"),
    ]
    planted_files = [
        os.path.join(root, f"dlp_index_p{recycled}_stamp"),
        os.path.join(root, f".dlp_index_p{recycled}_stamp.crc"),
    ]
    try:
        info = _wait_ready(child, ready)
        theirs = _owned_by(root, info["token"])
        assert f"dlp_index_p{info['token']}_post" in theirs
        assert f"dlp_index_p{info['token']}_stamp" in theirs
        assert f".dlp_index_p{info['token']}_stamp.crc" in theirs

        # live child: this process names its paths and runs the probe,
        # and none of the child's entries is touched
        fn = registry.QUERIES["dedup_lifecycle_probe"]
        oracle = (
            testing.duckdb_connect(sf_dir)
            .execute(registry.ORACLE["dedup_lifecycle_probe"])
            .fetchdf()
        )
        res = testing.compare("dedup_lifecycle_probe", fn(spark, sf_dir), oracle)
        assert res.rows_match and res.schema_match and res.hash_match, res
        mine = scratch.process_dir("owned_paths", "leaf")
        os.makedirs(mine, exist_ok=True)
        assert _owned_by(root, info["token"]) == theirs
        assert os.path.isdir(info["leaf"])

        child.send_signal(signal.SIGKILL)
        child.wait(timeout=60)
        for path in planted_dirs:
            os.makedirs(path)
        for path in planted_files:
            with open(path, "w") as f:
                f.write("v1:0:0")

        own = process_index_name(spark, "dlp_index")
        assert scratch.process_dir("owned_paths", "leaf") == mine
        assert _owned_by(root, info["token"]) == []
        assert not os.path.exists(os.path.dirname(info["leaf"]))
        for path in planted_dirs + planted_files:
            assert not os.path.exists(path), path
        assert os.path.isdir(os.path.join(root, f"{own}_post"))
        assert os.path.isfile(os.path.join(root, f"{own}_stamp"))
        assert os.path.isdir(mine)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait(timeout=60)
        for path in planted_dirs:
            shutil.rmtree(path, ignore_errors=True)
        for path in planted_files:
            if os.path.exists(path):
                os.remove(path)

"""The benchmark's own tests. They start Spark in subprocesses, about a
minute per run, so they live here rather than in the repo's suite:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402

with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(args: list[str], code: str | None = None) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "-c", code] if code else [sys.executable, "perfbench/run.py"]
    return subprocess.run(
        cmd + args, cwd=CHECKOUT, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize(
    "workload,seed,trace",
    [("country_export", 1, 0), ("country_export", 2, 1),
     ("corpus_ops", 3, 0), ("corpus_ops", 4, 1)],
)
def test_smoke_prints_every_metric_with_its_unit(workload, seed, trace):
    proc = _run(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                 "--trace", str(trace), "--size", "tiny"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(CHECKOUT, ".perfbench_tmp"))


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_seed_changes_inputs_not_their_shape(tmp_path):
    import pyarrow.parquet as pq

    made = {}
    for seed in (1, 2, 1):
        root = tmp_path / f"s{seed}-{len(made)}"
        truth = inputs.overture_source(str(root / "src"), seed, 200)
        inputs.documents(str(root / "documents.parquet"), seed, 100)
        docs = pq.read_table(str(root / "documents.parquet"))
        made.setdefault(seed, []).append((_digest(str(root)), truth, docs))
    (a, ta, da), (a2, _, _) = made[1]
    b, tb, db = made[2][0]
    assert a == a2, "same seed must give byte-identical inputs"
    assert a != b and ta.aa_roads != tb.aa_roads and da["text"] != db["text"]
    assert da.schema == db.schema and ta.rows == tb.rows
    # AA keeps about a third of the segments
    assert 0.2 < len(ta.aa_roads) / 200 < 0.45


PLANTED = """
import sqlite3, sys
sys.path.insert(0, "perfbench")
import workloads

class Planted(workloads.CountryExport):
    def inspect(self, res, out):
        con = sqlite3.connect(out + "/roads.gpkg")
        con.execute("DELETE FROM roads WHERE fid = (SELECT min(fid) FROM roads)")
        con.commit()
        con.close()
        super().inspect(res, out)

workloads.WORKLOADS["country_export"] = Planted
import run
sys.exit(run.main(sys.argv[1:]))
"""


def test_planted_wrong_output_fails_the_run():
    proc = _run(["--workload", "country_export", "--seed", "5", "--seconds", "1",
                 "--size", "tiny"], code=PLANTED)
    assert proc.returncode != 0
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] > 0
    assert result["metrics"]["ok_frac"]["value"] < 1
    assert "gpkg" in proc.stderr


def test_outside_a_checkout_it_fails_without_a_result(tmp_path):
    bare = tmp_path / "bare"
    bare.mkdir()
    (bare / "BENCHMARK.json").write_text(json.dumps(SPEC))
    os.symlink(BENCH, bare / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_ops", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()

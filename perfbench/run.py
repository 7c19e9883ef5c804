"""Benchmark command: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload country_export --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The line before it is a
``{"detail": ...}`` object with every pass's wall time, job counts,
lifecycle path and output hashes, plus the ``calibration.spark_s``
job. A traced run also writes its spans to
``.perfbench_out/<workload>-seed<seed>-trace.json``.

One run:

1. makes the workload's inputs from the seed (untimed);
2. starts a Spark session and warms it (``setup_s``);
3. runs the first pass (``first_pass_s``), then ``WARMUPS`` untimed
   passes, then timed passes for ``--seconds`` (at least
   ``MIN_TIMED``). Between passes,
   outside the timers, it clears Spark's cache and temp views and runs
   Python's and the JVM's garbage collectors;
4. checks every pass's outputs, and that the timed passes agree on the
   job count of each layer call and on the lifecycle path;
5. with ``--trace 1``, runs one more pass with span counters and
   ``noop`` materializations at the geo and transform boundaries, and
   reports the layers' numbers and the tracing overhead.

Everything the run writes lives in one temporary directory under
``.perfbench_tmp/`` (Spark's warehouse, local and scratch dirs, the
working directory, ``TMPDIR``); it is deleted at exit, and the run fails
if anything else in the checkout changed. Exit code 0 means every
operation and check passed.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(1, CHECKOUT)
TMP_PARENT = os.path.join(CHECKOUT, ".perfbench_tmp")
TRACE_DIR = os.path.join(CHECKOUT, ".perfbench_out")

#: Untimed passes after the first. One, not "until pass time stops
#: falling": that rule stopped after the second warm-up in most runs,
#: with the timed passes still ~10% faster than it, so it bought no
#: steadiness; a fixed count keeps the timed passes at the same pass
#: index in every run.
WARMUPS = 1
MIN_TIMED = 3
#: bench.py's fixed box-calibration job.
CALIBRATION_ROWS = 2_000_000_000


def load_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv: list[str] | None, spec: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def snapshot() -> dict[str, tuple[int, int]]:
    """Every file of the checkout outside the benchmark's own output
    dirs, with its size and mtime."""
    out = {}
    for dirpath, dirnames, files in os.walk(CHECKOUT):
        if dirpath == CHECKOUT:
            dirnames[:] = [
                d for d in dirnames
                if os.path.join(CHECKOUT, d) not in (TMP_PARENT, TRACE_DIR)
            ]
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def isolate(workload: str) -> str:
    """Make the run's private root and point every writer at it."""
    os.makedirs(TMP_PARENT, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{workload}-", dir=TMP_PARENT)
    for d in ("local", "scratch", "tmp", "work", "out"):
        os.makedirs(os.path.join(root, d))
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
        "SPARK_GRAFT_SCRATCH": os.path.join(root, "scratch"),
        "TMPDIR": os.path.join(root, "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
    })
    tempfile.tempdir = os.path.join(root, "tmp")
    os.chdir(os.path.join(root, "work"))
    return root


def cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else min(4, nproc): fixed per box
    and recorded in the detail line."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or min(4, os.cpu_count() or 1))


def start_session(root: str, n_cpus: int):
    """Fresh session plus the warm-up every workload needs: the Arrow
    Python workers, the parquet write path and the query registry."""
    t0 = time.perf_counter()
    from overturelink_data_pipeline_spark import registry
    from overturelink_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=n_cpus,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}"
            ),
        },
    )
    t1 = time.perf_counter()

    def passthrough(batches):  # local, so the workers get it by value
        yield from batches

    ids = spark.range(1000)
    ids.mapInPandas(passthrough, ids.schema).write.format("noop").mode(
        "overwrite").save()
    warm = os.path.join(root, "tmp", "warm.parquet")
    spark.range(100).write.parquet(warm)
    spark.read.parquet(warm).write.format("noop").mode("overwrite").save()
    shutil.rmtree(warm)
    registry.load_all()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def hygiene(spark) -> None:
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    gc.collect()
    spark._jvm.System.gc()


def stop_session() -> None:
    """Stop the active session, if any, and its JVM, and wait for the
    JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def calibration_s(spark) -> float:
    t = time.perf_counter()
    spark.range(CALIBRATION_ROWS).selectExpr("bit_xor(xxhash64(id)) AS s").write.format(
        "noop").mode("overwrite").save()
    return time.perf_counter() - t


@dataclass
class Pass:
    id: int
    kind: str  # first | warmup | timed | traced
    wall: float
    result: object
    span: object  # the pass's root span
    ops: dict  # layer call (direct child span) → job count
    op_s: dict  # layer call → wall seconds


class Run:
    def __init__(self, args):
        self.args = args
        self.passes: list[Pass] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, message: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(message)

    def one_pass(self, kind: str, traced: bool) -> Pass:
        p = len(self.passes)
        tracer = self.tracer
        tracer.pass_id = p
        tracer.counters = traced
        out = os.path.join(self.root, "out", f"pass{p}")
        t = time.perf_counter()
        try:
            with tracer.span("pass") as root_span:
                res = self.wl.run_pass(self.spark, tracer, out, traced)
        except Exception:
            ops = [s for s in tracer.of_pass(p) if s.parent == root_span.id]
            self.attempted += len(ops) or 1  # the last op is the one that raised
            self.failed += 1
            self.errors.append(f"pass {p} ({kind}) raised:\n{traceback.format_exc()}")
            raise
        wall = time.perf_counter() - t
        calls = [s for s in tracer.of_pass(p) if s.parent == root_span.id]
        ops = {s.name: len(s.jobs) for s in calls}
        self.attempted += len(ops)
        self.wl.inspect(res, out)
        self.attempted += res.checks
        self.failed += len(res.errors)
        self.errors += [f"pass {p}: {e}" for e in res.errors]
        shutil.rmtree(out)
        hygiene(self.spark)
        done = Pass(p, kind, wall, res, root_span, ops,
                    {s.name: round(s.wall_s, 4) for s in calls})
        self.passes.append(done)
        return done

    def execute(self) -> dict:
        from workloads import WORKLOADS

        args = self.args
        self.root = isolate(args.workload)
        self.wl = WORKLOADS[args.workload](self.root, args.seed, args.size)
        self.cpus = cpus()
        try:
            from spans import Tracer

            self.spark, start_s, warm_s = start_session(self.root, self.cpus)
            self.tracer = Tracer(self.spark, counters=False)
            self.one_pass("first", traced=bool(args.trace))
            for _ in range(WARMUPS):
                self.one_pass("warmup", traced=False)
            t0 = time.perf_counter()
            while True:
                self.one_pass("timed", traced=False)
                n = sum(p.kind == "timed" for p in self.passes)
                if n >= MIN_TIMED and time.perf_counter() - t0 >= args.seconds:
                    break
            if args.trace:
                self.one_pass("traced", traced=True)
            calibration = calibration_s(self.spark)
            self.cross_pass_checks()
            metrics = self.metrics(start_s, warm_s, args.trace)
            if args.trace:
                self.write_trace(metrics)
        finally:
            stop_session()
        return {"metrics": metrics, "calibration": {"spark_s": round(calibration, 4)}}

    def cross_pass_checks(self) -> None:
        timed = [p for p in self.passes if p.kind == "timed"]
        ops = {json.dumps(p.ops, sort_keys=True) for p in timed}
        self.check(len(ops) == 1, f"timed passes disagree on job counts: {sorted(ops)}")
        paths = {p.result.path for p in timed}
        self.check(len(paths) == 1, f"timed passes disagree on lifecycle path: {paths}")
        for name in self.passes[0].result.digests:
            seen = {p.result.digests.get(name) for p in self.passes}
            self.check(len(seen) == 1, f"{name}: output differs between passes")

    def metrics(self, start_s: float, warm_s: float, traced: int) -> dict[str, float]:
        timed = [p for p in self.passes if p.kind == "timed"]
        median_wall = statistics.median(p.wall for p in timed)
        if not traced:
            return {
                "setup_s": start_s + warm_s,
                "first_pass_s": self.passes[0].wall,
                "rows_per_s": self.wl.input_rows / median_wall,
                "out_bytes_per_row": statistics.median(
                    p.result.bytes_written / p.result.rows_written for p in timed
                ),
                "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            }
        return self.layer_metrics(start_s, warm_s, median_wall)

    def layer_metrics(self, start_s: float, warm_s: float, median_wall: float) -> dict:
        tracer = self.tracer
        first, last = self.passes[0], self.passes[-1]
        m = {"session.start_s": start_s, "session.warm_s": warm_s}
        m.update(last.result.layer)
        by_name = {}
        for p in (first, last):  # the last pass wins; lifecycle builds run only in the first
            for s in tracer.of_pass(p.id):
                by_name[s.name] = (p, s)
        for name, (p, s) in by_name.items():
            if name == "pass":
                continue
            incl = tracer.inclusive(p.id, s)
            if name.startswith("ops."):
                m[f"{name}.s"] = s.wall_s
                m[f"{name}.jobs"] = incl["jobs"]
                m[f"{name}.stages"] = incl["stages"]
                m[f"{name}.shuffle_bytes"] = incl["shuffle_write_bytes"]
            else:
                m[f"{name}_s"] = s.wall_s
                m[f"{name}_jobs"] = incl["jobs"]
        if "transform.exec_s" in m:
            m["transform.exec_s"] -= m.get("geo.exec_s", 0.0)
        total = tracer.inclusive(last.id, last.span)
        m.update({
            "spark.jobs": total["jobs"],
            "spark.stages": total["stages"],
            "spark.tasks": total["tasks"],
            "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
            "spark.executor_run_s": total["executor_run_s"],
            "spark.busy_frac": total["executor_run_s"] / (last.wall * self.cpus),
            "pass.self_s": tracer.self_time(last.id)[last.span.id],
            "trace.rows_per_s": self.wl.input_rows / last.wall,
            "trace.overhead_frac": last.wall / median_wall - 1,
        })
        return m

    def write_trace(self, metrics: dict) -> None:
        os.makedirs(TRACE_DIR, exist_ok=True)
        path = os.path.join(
            TRACE_DIR, f"{self.args.workload}-seed{self.args.seed}-trace.json"
        )
        with open(path, "w") as f:
            json.dump({"spans": self.tracer.dump(), "metrics": metrics}, f, indent=1)
        print(f"trace written to {path}", file=sys.stderr)

    def detail(self, extra: dict) -> dict:
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "size": self.args.size,
            "cpus": getattr(self, "cpus", None),
            "input_rows": getattr(getattr(self, "wl", None), "input_rows", None),
            "passes": [
                {"kind": p.kind, "wall_s": round(p.wall, 4), "jobs": p.ops, "op_s": p.op_s,
                 "path": p.result.path, "digests": p.result.digests}
                for p in self.passes
            ],
            "errors": self.errors,
            **extra,
        }


def main(argv: list[str] | None = None) -> int:
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = load_spec()
    args = parse_args(argv, spec)
    # fails here, before anything is written, outside a full checkout
    import overturelink_data_pipeline_spark  # noqa: F401

    before = snapshot()
    run = Run(args)
    extra: dict = {}
    try:
        extra = run.execute()
    except Exception:
        if not run.errors:
            run.errors.append(traceback.format_exc())
            run.failed += 1
            run.attempted += 1
    finally:
        os.chdir(CHECKOUT)
        root = getattr(run, "root", None)
        if root:
            shutil.rmtree(root, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(TMP_PARENT)  # only if no other run is using it
    after = snapshot()
    changed = sorted(set(before.items()) ^ set(after.items()))
    run.check(root is None or not os.path.exists(root), f"run root left behind: {root}")
    run.check(not changed, f"files changed in the checkout: {[p for p, _ in changed][:10]}")

    kind = "per_layer" if args.trace else "end_to_end"
    got = extra.get("metrics", {})
    if not args.trace:
        got["ok_frac"] = 1 - run.failed / run.attempted
    metrics = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }
    print(json.dumps({"detail": run.detail({"calibration": extra.get("calibration")})}))
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

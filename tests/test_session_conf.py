"""Cluster-deployment conf unit tests (VERDICT r1 item 8): the
``fs.s3a.*`` block and region derivation are checked as pure dicts —
no network, no bucket access (the container is offline)."""

from __future__ import annotations

import os
import subprocess
import sys

from overturelink_data_pipeline_spark.session import (
    DEFAULT_OVERTURE_BASE_URL,
    region_from_url,
    s3a_conf,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_region_from_url():
    assert region_from_url("s3://overturemaps-us-west-2/release") == "us-west-2"
    assert region_from_url("s3a://overturemaps-us-west-2/release") == "us-west-2"
    assert region_from_url("s3://mybucket-eu-central-1/x") == "eu-central-1"
    assert region_from_url("s3://data-ap-southeast-2") == "ap-southeast-2"
    # no derivable region → reference's default (source.py:319)
    assert region_from_url("s3://plainbucket/release") == "us-west-2"
    # a trailing digit alone is NOT a region — "mirror-2" must not be
    # baked into the s3a conf as an endpoint region
    assert region_from_url("s3://my-mirror-2/release") == "us-west-2"
    assert region_from_url("s3://data-2023") == "us-west-2"


def test_s3a_conf_block():
    conf = s3a_conf(DEFAULT_OVERTURE_BASE_URL)
    # all keys namespaced for SparkConf passthrough to Hadoop
    assert all(k.startswith("spark.hadoop.fs.s3a.") for k in conf)
    assert conf["spark.hadoop.fs.s3a.aws.credentials.provider"].endswith(
        "AnonymousAWSCredentialsProvider"
    )
    assert conf["spark.hadoop.fs.s3a.endpoint.region"] == "us-west-2"
    assert conf["spark.hadoop.fs.s3a.experimental.input.fadvise"] == "random"
    assert int(conf["spark.hadoop.fs.s3a.attempts.maximum"]) == 3


def test_ensure_parallelism_conditional(spark, tmp_path):
    """Three regimes: non-file frames pass through untouched; a
    single-row-group parquet scan (genuinely unsplittable) gets the
    rescue repartition; a multi-row-group scan is served by finer
    byte-range splits (openCostInBytes lowered) with NO shuffle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from overturelink_data_pipeline_spark import session as S

    # non-file frame: layout unprobeable -> same object, no shuffle
    wide = spark.range(0, 1000, 1, numPartitions=max(2, 4))
    assert S.ensure_parallelism(wide) is wide

    # single row group: must repartition to defaultParallelism
    target = spark.sparkContext.defaultParallelism
    one = str(tmp_path / "one.parquet")
    pq.write_table(
        pa.table({"x": list(range(10000))}), one, row_group_size=10000
    )
    out = S.ensure_parallelism(spark.read.parquet(one))
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 10000

    # many row groups: no Exchange in the plan (scan splits finer
    # instead), and the split-floor conf was lowered to make that real
    many = str(tmp_path / "many.parquet")
    pq.write_table(
        pa.table({"x": list(range(100000))}), many, row_group_size=100000 // target
    )
    df = S.ensure_parallelism(spark.read.parquet(many))
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert (
        S._conf_bytes(spark, "spark.sql.files.openCostInBytes", 0)
        == S._OPEN_COST_SMALL
    )
    assert df.count() == 100000


def test_parse_bytes_conf_renderings():
    from overturelink_data_pipeline_spark.session import _parse_bytes

    assert _parse_bytes("134217728b", 0) == 134217728
    assert _parse_bytes("128m", 0) == 128 * 1024**2
    assert _parse_bytes("1g", 0) == 1024**3
    assert _parse_bytes("4194304", 0) == 4194304
    assert _parse_bytes("garbage", 7) == 7


def test_geojson_layer_tag_all_null_props(spark, tmp_path):
    """to_json drops null fields; an all-null-props row + layer tag
    must still emit valid JSON (no trailing comma)."""
    import json as _json

    from pyspark.sql import Row, functions as F

    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.sinks.geojson import feature_line

    df = spark.createDataFrame([
        Row(name=None, geometry=W.dumps(("Point", (1.0, 2.0)))),
        Row(name="x", geometry=W.dumps(("Point", (3.0, 4.0)))),
    ])
    lines = [r.v for r in df.select(feature_line(df, "roads").alias("v")).collect()]
    feats = sorted((_json.loads(s) for s in lines),
                   key=lambda f: f["properties"].get("name") or "")
    assert feats[0]["properties"] == {"layer": "roads"}
    assert feats[1]["properties"] == {"layer": "roads", "name": "x"}


def test_region_from_url_multitoken_partitions():
    """us-gov-west-1 / us-iso-east-1 buckets keep their partition
    token instead of yielding the nonexistent 'gov-west-1' /
    'iso-east-1'."""
    assert region_from_url("s3://mirror-us-gov-west-1/x") == "us-gov-west-1"
    assert region_from_url("s3://mirror-us-iso-east-1/x") == "us-iso-east-1"
    assert region_from_url("s3://data-us-west-2/x") == "us-west-2"


def _worker_report(spark):
    """(file of the worker's importlib.invalidate_caches, file the worker
    imports the package from), read inside a Python UDF."""
    from pyspark.sql import functions as F

    @F.udf("array<string>")
    def report(_):
        import importlib

        import overturelink_data_pipeline_spark as pkg

        return [importlib.invalidate_caches.__code__.co_filename, pkg.__file__]

    return spark.range(1).select(report("id").alias("r")).first().r


def test_python_workers_run_the_package_filter(spark):
    """A worker that imports the package runs its invalidate_caches,
    and imports the same package file as the driver."""
    import overturelink_data_pipeline_spark as pkg

    invalidate_file, pkg_file = _worker_report(spark)
    assert os.path.samefile(invalidate_file, pkg.__file__)
    assert os.path.samefile(pkg_file, pkg.__file__)
    assert os.path.samefile(pkg.invalidate_caches.__code__.co_filename, pkg.__file__)


def test_filter_exempts_only_pythonpath_archives(tmp_path, monkeypatch):
    """Driver-side, no Spark: of two zips a process imported from and
    then rewrote, the filter re-reads the one only on sys.path and
    keeps the cached directory of the one listed in PYTHONPATH."""
    import importlib
    import uuid
    import zipfile

    import pytest

    import overturelink_data_pipeline_spark as pkg

    tag = f"exempt_{uuid.uuid4().hex}"
    zips = {side: str(tmp_path / f"{side}.zip") for side in ("a", "b")}

    def write(side, *names):
        with zipfile.ZipFile(zips[side], "w") as z:
            for name in names:
                z.writestr(f"{tag}_{side}_{name}.py", "")

    for side in zips:
        write(side, "old")
    monkeypatch.setenv("PYTHONPATH", zips["a"])
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path[:0] = [zips["a"], zips["b"]]
    try:
        for side in zips:
            importlib.import_module(f"{tag}_{side}_old")
            write(side, "old", "new")
        pkg.invalidate_caches()
        importlib.import_module(f"{tag}_b_new")
        with pytest.raises(ModuleNotFoundError):
            importlib.import_module(f"{tag}_a_new")
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules if m.startswith(tag)]:
            del sys.modules[name]


def _run_session_script(script, cwd, pythonpath=None):
    """Run ``script`` in a fresh interpreter from ``cwd`` with the
    checkout as ``sys.argv[1]``, and ``PYTHONPATH`` set to
    ``pythonpath`` (unset when None)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    return subprocess.run(
        [sys.executable, "-c", script, _REPO],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_plain_session_worker_runs_the_package_filter(tmp_path):
    """A plain builder session, never touched by get_spark, runs an
    engine UDF; a later UDF in the same worker that does not import the
    package sees the package's invalidate_caches. Both jobs collect every
    row: a worker whose output is cut short by ``first()`` is killed, so
    the next job would fork a fresh one."""
    script = (
        "from pyspark.sql import SparkSession, functions as F\n"
        "from overturelink_data_pipeline_spark.geo import wkb as W\n"
        "from overturelink_data_pipeline_spark.geo.functions import st_bbox\n"
        "spark = (SparkSession.builder.master('local[1]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = spark.createDataFrame([(W.dumps(('Point', (1.0, 2.0))),)], 'g binary')\n"
        "print('XMIN', df.select(st_bbox('g').xmin.alias('x')).collect()[0].x)\n"
        "@F.udf('string')\n"
        "def owner(_):\n"
        "    import importlib\n"
        "    return importlib.invalidate_caches.__module__\n"
        "print('OWNER', spark.range(1).select(owner('id').alias('m')).collect()[0].m)\n"
        "spark.stop()\n"
    )
    out = _run_session_script(script, tmp_path, pythonpath=_REPO)
    assert "XMIN 1.0" in out.stdout, out.stderr[-3000:]
    assert "OWNER overturelink_data_pipeline_spark\n" in out.stdout, out.stderr[-3000:]


def test_added_py_file_importable_after_workers_started(spark, tmp_path):
    """A zip shipped with addPyFile once workers are running is a new
    path entry the daemon does not exempt: a later UDF imports it."""
    import uuid
    import zipfile

    from pyspark.sql import functions as F

    _worker_report(spark)  # workers are up before the zip exists
    mod = f"late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 'shipped late'\n")
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("string")
    def late(_):
        import importlib

        return importlib.import_module(mod).VALUE

    assert spark.range(1).select(late("id").alias("v")).first().v == "shipped late"


def test_worker_rereads_a_rewritten_zip_on_invalidation(spark, tmp_path):
    """Only the archives on the daemon's sys.path are exempt: a zip a
    worker imported from, rewritten in place, is re-read when
    importlib.invalidate_caches runs."""
    import uuid

    from pyspark.sql import functions as F

    archive = str(tmp_path / "rewritten.zip")
    tag = f"rewritten_{uuid.uuid4().hex}"

    @F.udf("string")
    def reread(_):
        import importlib
        import sys
        import zipfile

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{tag}_a.py", "")
        sys.path.insert(0, archive)
        try:
            importlib.import_module(f"{tag}_a")
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"{tag}_b.py", "VALUE = 'reread'\n")
            importlib.invalidate_caches()
            return importlib.import_module(f"{tag}_b").VALUE
        finally:
            sys.path.remove(archive)

    assert spark.range(1).select(reread("id").alias("v")).first().v == "reread"


def test_engine_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    """A session started outside the checkout, with no PYTHONPATH, runs
    an engine pandas UDF: get_spark points the workers at the package."""
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from overturelink_data_pipeline_spark.session import get_spark\n"
        "from overturelink_data_pipeline_spark.geo import wkb as W\n"
        "from overturelink_data_pipeline_spark.geo.functions import st_bbox\n"
        "spark = get_spark(app_name='foreign-cwd', cpus=1)\n"
        "df = spark.createDataFrame([(W.dumps(('Point', (1.0, 2.0))),)], 'g binary')\n"
        "print('XMIN', df.select(st_bbox('g').xmin.alias('x')).first().x)\n"
        "spark.stop()\n"
    )
    out = _run_session_script(script, tmp_path)
    assert "XMIN 1.0" in out.stdout, out.stderr[-3000:]

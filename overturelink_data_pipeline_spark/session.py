"""SparkSession factory (SURVEY.md §7.1 step 1).

Single place that encodes the engine's execution-model choices:

- AQE on (runtime coalesce + skew-join handling) — at 100 TB the
  static shuffle-partition guess is always wrong somewhere;
- shuffle partitions sized to the local test harness via
  ``SPARK_GRAFT_CPUS`` (a real cluster deployment overrides with
  ``spark.sql.shuffle.partitions`` ≈ 2-3× total cores);
- Arrow enabled — every Python-side op in this engine is an Arrow
  pandas UDF, never a row-at-a-time Python UDF;
- zstd parquet everywhere, matching the reference's cache/dump
  compression choice (reference source.py:294,910,1443);
- UTC session timezone so timestamp semantics are stable vs the
  DuckDB oracle;
- nested-schema pruning + nested pushdown explicitly on: the Overture
  data model filters/projects struct fields (``bbox.xmin``,
  ``names.primary``) and those must reach the parquet row-group stats
  (reference relies on the same pushdown, source.py:496-507);
- Python workers import this checkout whatever the cwd
  (docs/OPERATIONS.md §12).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Public Overture Maps release bucket (reference source.py:352 default).
DEFAULT_OVERTURE_BASE_URL = "s3://overturemaps-us-west-2/release"


def region_from_url(base_url: str, default: str = "us-west-2") -> str:
    """AWS region embedded in the bucket name (reference
    source.py:312-319 derives DuckDB's ``s3_region`` the same way:
    ``s3://overturemaps-us-west-2/release`` → ``us-west-2``)."""
    host = base_url.removeprefix("s3://").removeprefix("s3a://").split("/")[0]
    parts = host.split("-")
    compass = {
        "east", "west", "central", "north", "south", "northeast",
        "southeast", "northwest", "southwest",
    }
    # only accept a full <area>-<compass>-<digit> suffix ("us-west-2"):
    # a looser digit-only fallback would turn bucket names like
    # "my-mirror-2" into the nonexistent region "mirror-2" and bake a
    # broken endpoint into the s3a conf
    if len(parts) >= 3 and parts[-2] in compass and parts[-1].isdigit():
        region = "-".join(parts[-3:])
        # multi-token partitions (us-gov-west-1, us-iso-east-1): the
        # 3-token slice would yield the nonexistent 'gov-west-1' and
        # bake a broken endpoint into the s3a conf
        if parts[-3] in ("gov", "iso", "isob", "isoe", "isof") and len(parts) >= 4:
            region = "-".join(parts[-4:])
        return region
    return default


def s3a_conf(base_url: str = DEFAULT_OVERTURE_BASE_URL) -> dict[str, str]:
    """``fs.s3a.*`` conf for reading the public Overture bucket — the
    Spark analog of the reference's DuckDB httpfs tuning
    (source.py:351-369: s3_region from the base URL, 30-min transfer
    timeout, 3 retries, keep-alive):

    - anonymous credentials: the release bucket is public, and an
      accidental instance-profile lookup adds minutes of IMDS timeout
      on misconfigured clusters;
    - ``fadvise=random``: parquet column reads seek between row-group
      column chunks; sequential readahead would drag whole objects
      through the NIC (at 100 TB this is the difference between
      reading the 3 projected columns and reading the file);
    - generous socket/establish timeouts + bounded retries for the
      multi-GB column chunks the transportation theme serves.

    Returned as a dict for ``get_spark(extra_conf=...)`` or a real
    cluster's ``spark-defaults.conf`` — keys are static Hadoop-AWS
    (hadoop-aws ≥3.3) settings, nothing deployment-specific baked in.
    """
    return {
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        ),
        "spark.hadoop.fs.s3a.endpoint.region": region_from_url(base_url),
        "spark.hadoop.fs.s3a.connection.timeout": "200000",
        "spark.hadoop.fs.s3a.connection.establish.timeout": "30000",
        "spark.hadoop.fs.s3a.attempts.maximum": "3",
        "spark.hadoop.fs.s3a.retry.limit": "3",
        "spark.hadoop.fs.s3a.connection.maximum": "96",
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "random",
        "spark.hadoop.fs.s3a.readahead.range": "1M",
        "spark.hadoop.fs.s3a.vectored.read.min.seek.size": "128K",
    }


#: Directory holding the package: workers import the engine from here.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_OPEN_COST_DEFAULT = 4 * 1024 * 1024
_OPEN_COST_SMALL = 128 * 1024


def get_spark(
    app_name: str = "overturelink-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
    s3: bool = False,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # low file-open cost floor from session start: the
        # ensure_parallelism rescue would otherwise lower it lazily on
        # the first starved scan, making later scans' split planning
        # depend on which query ran first (order-dependent plans);
        # setting it here makes engine sessions deterministic — the
        # lazy rescue remains only for FOREIGN sessions (the driver's)
        .config("spark.sql.files.openCostInBytes", str(_OPEN_COST_SMALL))
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as epoch-nanos long and convert explicitly
        # (tz-free) in the plan — see functions/timeparts.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB state stores checkpoint incremental CHANGELOGS
        # instead of re-uploading a full SST snapshot every micro-batch
        # — the production-recommended setting once state outlives a
        # batch (snapshot upload cost is O(state), changelog is
        # O(delta)), and the wide-state stream ops (session windows,
        # stream-stream joins) are exactly that shape. Results are
        # provider-format-independent (pinned by the streaming
        # result-identity tests); measured at sf0.1 on
        # stream_user_sessions: fresh-subprocess first-invocation
        # 8.2 -> 7.2 s median (4 of 5 interleaved pairs better),
        # stream_stream_attribution neutral.
        .config(
            "spark.sql.streaming.stateStore.rocksdb"
            ".changelogCheckpointing.enabled",
            "true",
        )
        # no per-call origin capture: with it on, every F.* and
        # DataFrame call walks the Python stack and pays extra py4j
        # round trips (twice the py4j calls of a warm lifecycle pass)
        # and imports IPython into the driver. What is lost: the Python
        # call site in error query contexts (docs/OPERATIONS.md §13)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if s3 or os.environ.get("SPARK_GRAFT_S3") == "1":
        for k, v in s3a_conf(
            os.environ.get("OVERTURE_BASE_URL", DEFAULT_OVERTURE_BASE_URL)
        ).items():
            builder = builder.config(k, v)
    conf = dict(extra_conf or {})
    # workers import the UDF modules from this checkout whatever the
    # cwd; a caller's entries follow it
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")) if p
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def table_path(sf_dir: str, name: str) -> str:
    """Path of one driver-generated test table (TESTDATA.md)."""
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_read_confs(spark: SparkSession) -> None:
    """Pin the one parquet-reader conf ``events.ts`` needs:
    TIMESTAMP(NANOS) has no Spark type → read as epoch-nanos LongType.

    Deliberately does NOT touch ``inferTimestampNTZ``: that conf is
    session-global, and forcing it off would turn every
    TIMESTAMP(MICROS, isAdjustedToUTC=false) column in the *other*
    tables (``o_orderdate``, ``l_shipdate``, …) into tz-dependent
    TimestampType — a one-day date shift under non-UTC driver sessions.
    ``nanosAsLong`` is safe globally: no other test table uses nanos.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _normalize_ts(df):
    """Tz-free epoch-nanos ``ts`` from whatever Spark type it read as.
    The generator has shipped TIMESTAMP(NANOS) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) across rounds, and the session's
    NTZ-inference conf is the driver's to choose, so all three arrivals
    are handled:

    - LongType — already epoch nanos (nanosAsLong scan);
    - TimestampNTZType — ``timestampdiff(MICROSECOND, epoch, ts)``:
      exact integer micros, no session-timezone term;
    - TimestampType — ``unix_micros``: reads the internal epoch-micros
      field directly, also tz-free.

    All pure Catalyst expressions — codegen'd; pushdown on other
    columns in the scan is unaffected.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df
    if isinstance(ts_type, T.TimestampNTZType):
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
        )
    else:  # TimestampType
        micros = F.unix_micros(F.col("ts"))
    return df.withColumn("ts", micros * F.lit(1000))


def read_events(spark: SparkSession, sf_dir: str):
    """Scan ``events`` with ``ts`` normalized to epoch-nanos LongType.

    Every downstream operator (timeparts bucketing, sessionization,
    watermark derivation) works on exact integer nanos, so the file's
    physical timestamp unit is erased here, once, tz-free — see
    :func:`_normalize_ts` for the three arrival types handled.
    """
    _events_read_confs(spark)
    return _normalize_ts(spark.read.parquet(table_path(sf_dir, "events")))


#: Spark's byte-range split floor (``spark.sql.files.openCostInBytes``
#: default). On small multi-row-group files the 4 MiB floor caps a scan
#: at totalBytes/4MiB tasks regardless of cores; lowering it is a no-op
#: at real scale (bytesPerCore dominates the max() in Spark's split
#: formula) but un-starves the local test layout WITHOUT a shuffle —
#: and without one, Catalyst pushing an expression-heavy filter below
#: the rescue ``repartition()`` silently re-serializes the CPU work
#: onto the starved scan stage (observed on the JSON-parse query).

#: Above this many leaf files the layout is a real lake — splits are
#: plentiful, AQE owns sizing, and footer-stat'ing every file from the
#: driver would cost more than it could ever save.
_LAYOUT_PROBE_MAX_FILES = 64


def _parse_bytes(value: str, default: int) -> int:
    """Parse Spark byte-conf renderings: ``134217728b``, ``128m``, ``1g``."""
    s = str(value).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmg":
        mult = {"k": 1024, "m": 1024**2, "g": 1024**3}[s[-1]]
        s = s[:-1]
    try:
        return int(float(s)) * mult
    except ValueError:
        return default


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    try:
        return _parse_bytes(spark.conf.get(key), default)
    except Exception:
        return default


def _scan_layout(df) -> tuple[int, int, int] | None:
    """``(total_bytes, n_files, effective_splits)`` of the frame's leaf
    file scan from driver-side metadata only (``df.inputFiles()`` + file
    stats + parquet footers — no RDD lineage instantiation, no job).

    ``effective_splits`` counts what a byte-range split can actually
    parallelize: parquet readers split at row-group boundaries, so a
    single-group file is 1 effective split no matter how Spark carves
    its byte ranges. Returns None when the layout can't be probed
    cheaply (non-file frame, remote FS, many files) — callers must
    treat that as "already sane".
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or len(files) > _LAYOUT_PROBE_MAX_FILES:
        return None
    import pyarrow.parquet as pq
    from urllib.parse import unquote, urlparse

    total_bytes = 0
    splits = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None  # remote lake: trust the layout
        path = unquote(parsed.path)
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        total_bytes += size
        try:
            splits += pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            # non-parquet leaf (text/json): line-splittable, never the
            # bottleneck — count it as freely splittable
            splits += 1 << 20
    return total_bytes, len(files), splits


def ensure_parallelism(df, min_fraction: float = 0.5):
    """Make a split-starved file scan parallel — and ONLY then.

    Parquet scans split at row-group boundaries; a file written with
    giant row groups (pyarrow's default is 1 Mi rows — the test
    tables' ``documents``/``events`` have shipped single-group) yields
    a 1-task scan, and every narrow op downstream (explode, regex,
    hashing, JSON parse) inherits that single task regardless of
    cores. CPU-heavy operators route their scan through here. Three
    regimes, cheapest first:

    1. **Sane layout** (≥ half the default parallelism in effective
       splits, or any un-probeable/remote/many-file layout — i.e. any
       real lake at any scale): NO-OP, no shuffle, no conf touched.
    2. **Multi-row-group but byte-floor-starved**: lower
       ``spark.sql.files.openCostInBytes`` (performance-only conf;
       no-op in Spark's split formula at real scale) so the scan
       itself splits finer — no shuffle, and expression-heavy filters
       that Catalyst evaluates at the scan parallelize too, which a
       rescue ``repartition()`` can never achieve (pushdown puts the
       filter *below* the exchange).
    3. **Genuinely unsplittable** (single row group): round-robin
       ``repartition()`` — pays one small-table shuffle to buy cores×
       on the compute that follows.

    All decisions use driver-side metadata (file stats + parquet
    footers), never ``df.rdd`` — instantiating the RDD lineage per
    query build is driver overhead and defeats later plan reuse.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    threshold = max(2, int(target * min_fraction))
    layout = _scan_layout(df)
    if layout is None:
        return df
    total_bytes, n_files, effective_splits = layout

    open_cost = _conf_bytes(
        spark, "spark.sql.files.openCostInBytes", _OPEN_COST_DEFAULT
    )
    if effective_splits >= threshold and open_cost == _OPEN_COST_DEFAULT:
        # enough row groups, but would Spark's byte-range carve reach
        # them? maxSplitBytes floors at openCostInBytes — lower it so
        # bytesPerCore (the scale-correct term) owns the split size.
        # NOTE this mutates the SESSION conf once (guarded, monotone:
        # default -> _OPEN_COST_SMALL, never back) — under a foreign
        # session, scans before the first starved one keep the default
        # floor; engine sessions set the low floor at startup
        # (get_spark) so their plans are order-independent.
        bytes_per_core = (total_bytes + n_files * open_cost) / max(1, target)
        if max(open_cost, bytes_per_core) == open_cost:
            spark.conf.set(
                "spark.sql.files.openCostInBytes", str(_OPEN_COST_SMALL)
            )
            open_cost = _OPEN_COST_SMALL

    max_partition = _conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    bytes_per_core = (total_bytes + n_files * open_cost) / max(1, target)
    max_split = min(max_partition, max(open_cost, bytes_per_core))
    byte_splits = max(1, -(-total_bytes // max(1, int(max_split))))
    if min(byte_splits, effective_splits) < threshold:
        return df.repartition(target)
    return df


def sort_bounded(df, *cols):
    """Total sort for a BOUNDED-cardinality result — group-bys over
    closed domains (return flags, nations, priorities, k centroids),
    audit/manifest rollups — produced as ONE sorted partition instead
    of a global ``orderBy``.

    A global ``orderBy`` compiles to ``Exchange(rangepartitioning)``
    whose RangePartitioner must SAMPLE the child to pick range bounds:
    the whole plan segment since the last shuffle executes TWICE, once
    for the sampling job and once for the real shuffle (guide §2.4's
    "orderBy used only to make output deterministic"). Measured on
    agg_percentiles_exact at sf0.1: the 3-task window+join segment ran
    as two ~1.1 s stages; swapping the final sort for this helper
    removed one of them (2.17 s → 1.64 s warm noop-sink).

    ``repartition(1)`` (round-robin, no sampling) +
    ``sortWithinPartitions`` yields the identical rows in the identical
    total order with the segment executed ONCE. Scale posture: the
    single sort task only ever sees the bounded RESULT (≤ domain
    cardinality rows), never the data — do NOT use this for
    data-proportional outputs (per-doc/per-feature frames), whose
    range sort must stay distributed.
    """
    return df.repartition(1).sortWithinPartitions(*cols)


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Columnar parquet scan; Catalyst prunes columns + pushes filters.

    ``events`` goes through :func:`read_events`, which normalizes the
    ``ts`` column to epoch-nanos LongType regardless of the file's
    physical timestamp unit. Queries convert with the tz-free helpers
    in ``functions.timeparts`` so results are independent of
    ``spark.sql.session.timeZone``.
    """
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))

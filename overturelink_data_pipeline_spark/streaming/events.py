"""Streaming operators over the ``events`` table.

The reference has no streaming (SURVEY.md §2.8) — its natural analog
is "new release arrives → incremental re-extract". These operators
build that pattern on Structured Streaming's file source with
``Trigger.AvailableNow``: the same code incrementally processes a
growing directory in production and drains a static directory to
completion in tests, which is what makes a streaming result
oracle-comparable to a batch SQL aggregate.

Correctness-at-scale choices:

- **event-time watermark** bounds state: late rows beyond the
  watermark are dropped instead of growing the window state forever;
- the window aggregation shuffles on (window, event_type) — the same
  key a batch GROUP BY would use; AQE sizes the state-store
  partitions;
- timestamps: the parquet carries TIMESTAMP(NANOS) scanned as
  epoch-nanos long (session.py); we convert via ``timestamp_micros``
  (an absolute instant — no session-timezone dependence) and emit
  bucket labels through the tz-free helpers in functions/timeparts.py.

Sessionization uses ``applyInPandasWithState`` (the custom stateful
operator path SURVEY.md §2.8 reserves for semantics Spark's built-in
windows can't express): per-user session assembly with a 30-minute
inactivity gap and processing-time timeout flushing.

**State-store provider recommendation** (r7 A/B,
``scripts/bench_stream_scale.py --provider rocksdb``, BENCH_SF1.md):
the default HDFS-backed provider snapshots its entire in-heap map per
commit, and that term grows SUPERLINEARLY with wide per-key state —
stream_session_window walled 4.3 s (sf1) → 27.2 s (sf3, 3x events,
6.3x wall; 1.01 GB peak heap state) on the default vs 6.0 → 21.6 s
(3.6x, near-linear; 77 MB state) on RocksDB. Narrow-key state
(stream_dedup_hourly's seen-set) stays LINEAR on both and the default
wins outright (3.7 → 13.3 s vs RocksDB's flat ~2x JNI get/put toll,
7.4 → 25.9 s). So: default provider for narrow-key, heap-sized state;
RocksDB once per-key state is wide (session structs, stream-stream
joins) or per-executor state approaches heap scale — at the 100 TB
design point state exceeds heap and RocksDB (incremental commits,
off-heap) is the only viable provider for every stateful operator
here. Wired into code in r8 (VERDICT r7 ask #5): wide-state callers
pass ``wide_state=True`` to ``run_to_completion`` and get RocksDB by
default; ``$SPARK_GRAFT_STATE_PROVIDER`` (or the ``state_provider``
argument) overrides either way.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from overturelink_data_pipeline_spark.functions.timeparts import NS_PER_SEC

SESSION_GAP_MIN = 30


def _event_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """File-source streams require a declared schema — take it from a
    batch footer read (one cheap driver call). The nanosAsLong conf is
    pinned first so a TIMESTAMP(NANOS) file reads as LongType; micros
    files arrive as TimestampNTZ or Timestamp per the session's own
    inference conf — both handled downstream (session._normalize_ts)."""
    from overturelink_data_pipeline_spark.session import _events_read_confs

    _events_read_confs(spark)
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


_stream_dirs: dict[str, str] = {}


def _stream_dir(sf_dir: str) -> str:
    """The file stream source lists a DIRECTORY of arriving files; the
    test table is one parquet file, so stage a symlink dir (what a
    production deployment has natively: a drop directory per release —
    SURVEY.md §2.8's 'new release arrives' analog). The dir is a
    STABLE per-user path keyed by the sf_dir (r10: a mkdtemp per
    process left one 4 KB symlink dir per bench/test subprocess — 309
    of them by round 10; the same leak class as the r9 shard-dataset
    trap). Idempotent content, so concurrent processes may share it;
    a stale link (sf_dir re-created elsewhere) is re-pointed."""
    if sf_dir not in _stream_dirs:
        import hashlib

        from overturelink_data_pipeline_spark import scratch

        key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
        d = scratch.scratch_root("event_stream", key)
        os.makedirs(d, exist_ok=True)
        link = os.path.join(d, "events.parquet")
        target = os.path.abspath(f"{sf_dir}/events.parquet")
        try:
            os.symlink(target, link)
        except FileExistsError:
            if os.path.realpath(link) != os.path.realpath(target):
                # atomic repoint (review r10): remove-then-symlink has
                # a two-step window where a concurrent process sharing
                # this stable dir dies with FileNotFoundError (both
                # remove) or FileExistsError (the other re-linked
                # first) — the same test-suite-plus-bench pairing that
                # reproduced the r9 sink race. Link a pid-unique temp
                # name, then rename over: rename(2) replaces the
                # destination atomically and racers converge on the
                # same target (content is idempotent).
                tmp = f"{link}.{os.getpid()}.tmp"
                try:
                    os.remove(tmp)
                except FileNotFoundError:
                    pass
                os.symlink(target, tmp)
                os.replace(tmp, link)
        _stream_dirs[sf_dir] = d
    return _stream_dirs[sf_dir]


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with an event-time column.

    ``ts`` is normalized to epoch-nanos long (matching the batch
    read_events contract, via session._normalize_ts — tz-free for all
    three arrival types: nanos-as-long, TimestampNTZ, Timestamp) and
    ``event_time`` is an absolute-instant TimestampType usable for
    watermarks, independent of the session timezone.
    """
    from overturelink_data_pipeline_spark.session import _normalize_ts

    schema = _event_schema(spark, sf_dir)
    stream = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir))
    # integer `div`, not float `/`: above 2^53 ns a double's ~128 ns
    # representation error can floor boundary events into the wrong
    # bucket vs an exact integer-division oracle
    return _normalize_ts(stream).withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )


def windowed_event_counts(stream: DataFrame, minutes: int = 60) -> DataFrame:
    """Watermarked tumbling-window rollup: count + value sum per
    (window, event_type). Late data beyond 2 windows is dropped.
    A tumbling window IS the slide == length special case, so this
    delegates — the two paths can no longer drift."""
    return sliding_event_counts(stream, minutes=minutes, slide_minutes=minutes)


def sliding_event_counts(
    stream: DataFrame, minutes: int = 60, slide_minutes: int = 30
) -> DataFrame:
    """Watermarked SLIDING-window rollup: count + value sum per
    (window, event_type), window length ``minutes`` sliding every
    ``slide_minutes`` — each event lands in length/slide windows.
    Window starts align to epoch 0 (Spark's default), so bucket k
    covers [k*slide, k*slide + length)."""
    return (
        stream.withWatermark("event_time", f"{2 * minutes} minutes")
        .groupBy(
            F.window(
                "event_time", f"{minutes} minutes", f"{slide_minutes} minutes"
            ).alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            (F.unix_timestamp("w.start")).cast("bigint").alias("bucket_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


#: Spark's two built-in state-store providers. ROCKSDB keeps state
#: off-heap with incremental commits; DEFAULT snapshots an in-heap map
#: per commit (see the module docstring's measured A/B).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
DEFAULT_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)
#: One override knob (VERDICT r7 ask #5): set to "rocksdb" or
#: "default" to force the provider for every run_to_completion replay
#: regardless of the per-op auto-selection.
STATE_PROVIDER_ENV = "SPARK_GRAFT_STATE_PROVIDER"


def _resolve_state_provider(
    state_provider: str | None, wide_state: bool
) -> tuple[str, str]:
    """(name, providerClass) for this replay. Precedence: explicit
    argument > $SPARK_GRAFT_STATE_PROVIDER > auto-selection, which
    encodes the measured r7 A/B (module docstring / BENCH_SF1.md):
    RocksDB for WIDE per-key state — the default provider's per-commit
    full-map snapshot walls superlinearly (session window 4.3→27.2 s
    at 3×, 1.01 GB heap, vs RocksDB 6.0→21.6 s, 77 MB) — and the
    default provider for narrow-key state, where it is ~2× faster
    (RocksDB's JNI get/put toll) and linear. At the 100 TB design
    point state exceeds heap and the override knob forces RocksDB
    fleet-wide."""
    choice = state_provider or os.environ.get(STATE_PROVIDER_ENV) or (
        "rocksdb" if wide_state else "default"
    )
    choice = choice.lower()
    if choice not in ("rocksdb", "default"):
        raise ValueError(
            f"state_provider must be 'rocksdb' or 'default', got {choice!r}"
        )
    return choice, (
        ROCKSDB_PROVIDER if choice == "rocksdb" else DEFAULT_PROVIDER
    )


def unload_all_state_providers(spark: SparkSession) -> bool:
    """Unload every loaded state-store provider — the one
    implementation of the `StateStore.stop()` py4j incantation (the
    review of r11's first cut found it copy-pasted across four sites
    that would each break separately on a Spark-internal rename).

    SCOPE GUARD: `StateStore.stop()` is JVM-global, so firing it while
    ANOTHER streaming query is active in this session would close that
    query's providers mid-flight (task failure + full state reload
    from checkpoint). The replay harness's contamination case — a
    batched bench or driver sim, where terminated replays' stale
    providers pile up — has no concurrently active streams, so the
    guard skips the unload exactly when it could hurt and fires it
    exactly when it helps; skipped providers fall back to the normal
    60 s maintenance-tick reaping. Both the maintenance task and the
    coordinator restart lazily on the next streaming start. On a real
    cluster this reaches only the driver-local registry; executor
    providers follow coordinator deactivation as usual.

    CONTRACT — single-session JVM assumed (ADVICE r11): the guard
    reads `spark.streams.active`, which is PER-SparkSession, while the
    stop() it gates is JVM-wide. A stream started from a sibling or
    cloned SparkSession sharing this SparkContext is invisible to the
    guard, and its providers would be closed mid-flight (the stream
    recovers — task retry reloads state from the checkpoint — but the
    reload is a latency cliff, not free). Spark exposes no
    enumerate-all-sessions API, so this cannot be guarded from here;
    callers that clone sessions must not call this helper while any
    clone streams. Every in-repo caller (the replay harness and
    bench.py) owns its JVM and uses exactly one session.

    Returns True when the unload ran (the test hook)."""
    try:
        if spark.streams.active:
            return False
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        return True
    except Exception:
        return False


def loaded_provider_count(spark: SparkSession) -> int | None:
    """Size of the JVM's loadedProviders registry, or None when the
    package-private member is not reflectable (Spark-internal layout
    drift — callers must treat None as 'unknown', never as 0). Local
    mode only: driver and executor share the JVM there."""
    try:
        jvm = spark._jvm
        cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.streaming.state.StateStore$"
        )
        mod = cls.getDeclaredField("MODULE$").get(None)
        f = cls.getDeclaredField("loadedProviders")
        f.setAccessible(True)
        return f.get(mod).size()
    except Exception:
        return None


def run_to_completion(
    streaming_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
    state_provider: str | None = None,
    wide_state: bool = False,
) -> DataFrame:
    """Drain a streaming plan over its (static) source with
    Trigger.AvailableNow into a memory sink; return the result as a
    batch DataFrame. This is the replay harness that makes streaming
    results oracle-comparable.

    ``shuffle_partitions`` overrides the state-partition count for this
    run only (each state partition carries its own state store +
    maintenance thread; a bounded replay doesn't need 32 of them — a
    production ``writeStream`` to a real sink would keep cluster-sized
    state partitioning and never set this).

    ``wide_state`` is the caller's declaration that per-key state is a
    growing struct (open sessions, join buffers) rather than a bounded
    scalar/set — it auto-selects the RocksDB state-store provider per
    the measured A/B (_resolve_state_provider); ``state_provider``
    ('rocksdb'/'default') or $SPARK_GRAFT_STATE_PROVIDER overrides.
    The provider is a physical-execution choice only — results are
    identical either way (pinned in tests/test_round8_ops.py)."""
    # bound accumulation across invocations: each run registers a
    # memory-sink table (full result in driver memory) and creates a
    # checkpoint dir; release the PREVIOUS run's pair now — the
    # previous return value has usually been consumed by the time a
    # new replay starts, and the returned frame stays valid until then
    prev = getattr(run_to_completion, "_prev", None)
    if prev is not None:
        prev_name, prev_ckpt = prev
        try:
            spark.catalog.dropTempView(prev_name)
        except Exception:
            pass
        shutil.rmtree(os.path.dirname(prev_ckpt), ignore_errors=True)
    # checkpoints live under a per-process scratch leaf (scratch.py):
    # the one-behind cleanup above bounds growth within a process, and
    # naming the leaf removes the leaves of processes that are gone
    from overturelink_data_pipeline_spark import scratch

    name = "s" + uuid.uuid4().hex[:12]
    checkpoint = os.path.join(scratch.process_dir("stream_ckpt", name), "ckpt")
    run_to_completion._prev = (name, checkpoint)
    # recentProgress is a ring buffer of the LAST
    # numRecentProgressUpdates (default ~100) entries — a replay with
    # more micro-batches would silently undercount num_batches and
    # peak state in the telemetry below (the exact numbers the sf3
    # scaling sweep consumes). Raise it for this replay; restored in
    # the finally. Save as previously-set-or-None and UNSET on restore
    # when it was unset, so a Spark-default change is never pinned into
    # the caller's session; both overrides sit inside the try so a
    # failure between them cannot leave one unrestored.
    _PROG_KEY = "spark.sql.streaming.numRecentProgressUpdates"
    _PARTS_KEY = "spark.sql.shuffle.partitions"
    _PROV_KEY = "spark.sql.streaming.stateStore.providerClass"
    provider_name, provider_class = _resolve_state_provider(
        state_provider, wide_state
    )
    run_to_completion.last_state_provider = provider_name
    # get(key, None) bypasses the entry-default fallback: None means
    # "was not explicitly set in this session" — the same unset-aware
    # save/restore for ALL overridden confs.
    old_parts = spark.conf.get(_PARTS_KEY, None)
    old_prog = spark.conf.get(_PROG_KEY, None)
    old_prov = spark.conf.get(_PROV_KEY, None)
    try:
        if shuffle_partitions is not None:
            spark.conf.set(_PARTS_KEY, str(shuffle_partitions))
        spark.conf.set(_PROG_KEY, "100000")
        # per-run provider: the conf is read at query START (the
        # checkpoint is fresh each replay, so no provider pinning from
        # a prior run applies)
        spark.conf.set(_PROV_KEY, provider_class)
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # state-store telemetry for the scaling sweeps
        # (scripts/bench_stream_scale.py): peak rows / memory across
        # the replay's micro-batches, summed over state operators.
        # Stored on the function, not returned — callers are queries
        # whose schema is part of the oracle contract.
        try:
            rows = mem = batches = 0
            for p in q.recentProgress:
                batches += 1
                ops = p.get("stateOperators") or []
                rows = max(rows, sum(o.get("numRowsTotal", 0) for o in ops))
                mem = max(
                    mem, sum(o.get("memoryUsedBytes", 0) for o in ops)
                )
            run_to_completion.last_state_metrics = {
                "num_batches": batches,
                "peak_state_rows": rows,
                "peak_state_bytes": mem,
            }
        except Exception:
            run_to_completion.last_state_metrics = None
    finally:
        # Deterministically unload every state-store provider this
        # replay loaded (VERDICT r10 ask #1 — the batched-session
        # streaming variance). A replay's providers are never
        # reusable: the checkpoint is fresh per run and the previous
        # run's dir was deleted above — yet terminated queries'
        # providers stay LOADED until the 60 s maintenance tick
        # (stream-stream join stores bypass even unloadOnCommit: 32
        # lingered per attribution run, measured), holding RocksDB
        # native handles / in-heap state maps and running maintenance
        # against since-deleted checkpoint dirs. Measured same-session
        # A/B (scripts/ab_stream_unload.py): first batched pass of all
        # 8 stream queries 65.3 → 36.4 s, stream_stream_attribution
        # 20.6 → 6.7 s, once stale providers stopped accumulating.
        # Safety + result-identity pinned in tests/test_streaming.py.
        unload_all_state_providers(spark)
        if old_prog is None:
            spark.conf.unset(_PROG_KEY)
        else:
            spark.conf.set(_PROG_KEY, old_prog)
        if old_prov is None:
            spark.conf.unset(_PROV_KEY)
        else:
            spark.conf.set(_PROV_KEY, old_prov)
        if shuffle_partitions is not None:
            if old_parts is None:
                spark.conf.unset(_PARTS_KEY)
            else:
                spark.conf.set(_PARTS_KEY, old_parts)
    return spark.table(name)


_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_s", T.LongType()),
        T.StructField("session_end_s", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_s", T.LongType()),
        T.StructField("end_s", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch sessionization (30-min gap) — the oracle-comparable shape:
    a gap flag + running sum over a per-user event-time window. One
    shuffle on user_id; window functions stay JVM-side."""
    from pyspark.sql import Window

    sec = F.expr(f"ts div {NS_PER_SEC}")  # exact integer division (see read_event_stream)
    w = Window.partitionBy("user_id").orderBy("sec")
    gap = SESSION_GAP_MIN * 60
    marked = (
        events.select("user_id", sec.alias("sec"), "value")
        .withColumn("prev", F.lag("sec").over(w))
        .withColumn(
            "new_session",
            (F.col("prev").isNull() | (F.col("sec") - F.col("prev") > gap)).cast("int"),
        )
        .withColumn("session_id", F.sum("new_session").over(w))
    )
    return (
        marked.groupBy("user_id", "session_id")
        .agg(
            F.min("sec").alias("session_start_s"),
            F.max("sec").alias("session_end_s"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .drop("session_id")
    )


def sessionize_stream(stream: DataFrame) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState: per-user
    state = the open session; events extend it or flush it closed when
    the 30-min gap passes. State is O(users), not O(events), and is
    BOUNDED in time too: an EVENT-time timeout at session_end + gap
    (against the watermark) flushes idle users' open sessions and
    removes their state rows. Event-time (not processing-time) for two
    reasons: the gap semantics ARE event-time, and processing-time
    timeouts make AvailableNow replays run no-data batches forever
    waiting for wall-clock — measured, the replay never terminated.
    A timeout-flushed session is final by watermark guarantee (no
    event older than the watermark can still arrive), so flushed
    output remains exactly the batch oracle's closed-session set."""
    gap_s = SESSION_GAP_MIN * 60

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        closed: list[tuple[int, int, int, int, float]] = []
        if state.hasTimedOut:
            # watermark passed session_end + gap: the open session can
            # no longer grow — flush it and FREE the state row. Without
            # this branch a one-time user's state lives forever and
            # their final session is never emitted (bounded replays
            # mask it; a production stream does not).
            if state.exists:
                start_s, end_s, n, total = state.get
                closed.append((user_id, start_s, end_s, n, total))
                state.remove()
        else:
            secs: list[int] = []
            vals: list[float] = []
            for pdf in pdfs:
                secs.extend((pdf["ts"] // NS_PER_SEC).astype("int64").tolist())
                vals.extend(pdf["value"].tolist())
            # sessionize the BATCH first, then coalesce the open-state
            # interval into the sequence: a watermark-accepted late
            # event can precede the open session's start (or bridge
            # it to an earlier run), and the old fold — which only
            # ever extended end_s forward — reported a too-late
            # start_s for exactly those merges
            ivs: list[list] = []  # [start, end, n, total] ascending
            for i in sorted(range(len(secs)), key=secs.__getitem__):
                s, v = secs[i], vals[i]
                if ivs and s - ivs[-1][1] <= gap_s:
                    ivs[-1][1] = max(ivs[-1][1], s)
                    ivs[-1][2] += 1
                    ivs[-1][3] += v
                else:
                    ivs.append([s, s, 1, v])
            if state.exists:
                st = list(state.get)
                merged: list[list] = []
                for iv in sorted(ivs + [st], key=lambda x: x[0]):
                    if merged and iv[0] - merged[-1][1] <= gap_s:
                        merged[-1][1] = max(merged[-1][1], iv[1])
                        merged[-1][2] += iv[2]
                        merged[-1][3] += iv[3]
                    else:
                        merged.append(iv)
                ivs = merged
            if ivs:
                for st_, en_, n_, tot_ in ivs[:-1]:
                    closed.append((user_id, st_, en_, n_, tot_))
                start_s, end_s, n, total = ivs[-1]
                state.update((start_s, end_s, n, total))
                state.setTimeoutTimestamp((end_s + gap_s) * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id",
                    "session_start_s",
                    "session_end_s",
                    "n_events",
                    "total_value",
                ],
            )

    # event-time timeouts require a watermark; one gap of delay means a
    # session only times out once no in-gap event can still arrive
    return (
        stream.withWatermark("event_time", f"{SESSION_GAP_MIN} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

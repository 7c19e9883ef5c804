"""Incremental-index lifecycle: an index is built once per release as
bucketed tables, probed with each crawl, and grown by appending crawls.

    build(corpus)   write the index tables from scratch; the exchange is
                    paid once, at write
    probe(crawl)    cost ∝ crawl; the index side moves no bytes, because
                    the bucket layout satisfies the join clustering
    append(crawl)   admit the crawl by appending rows under the same
                    bucket spec

Invariants:

- A probe after appends equals the same probe against a rebuild over
  the release and every appended crawl.
- Skew guards (shingle df caps, LSH bucket caps) read per-key counts
  from a count sidecar bucketed BY THE KEY, one row per key per
  generation: maintenance is a row append and the current count a
  partition-local SUM, never a corpus-wide recount.
- Every append reuses the stored bucket spec, so new files land in the
  same layout and probes stay exchange-free on the index side.
- The probe merges the crawl's own keys into the stored census before
  the cap filter: a crawl can push a key over the cap.
- Appended and probed id sets are disjoint from the stored index;
  overlap is an error, not a merge.

Reference analog: the cache-then-refilter lifecycle of SURVEY.md §2
S4–S6.
"""

from __future__ import annotations

import math
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark import scratch
from overturelink_data_pipeline_spark.operators.dedup import (
    BAND_BUCKET_CAP,
    NGRAM_DF_CAP,
    _band_table,
    _finish_probe,
    _fresh_persist,
    _hot_doc_arrays,
    _jaccard_verify,
    _postings,
    _probe_pair_counts,
    minhash_signatures_agg,
    shingle_table,
)
from overturelink_data_pipeline_spark.session import _conf_bytes

__all__ = [
    "PostingIndex",
    "BandIndex",
    "SemanticRelease",
    "PendingProbe",
    "release_current",
    "fingerprint_leg",
    "shingle_table",
    "process_index_name",
]

def _derived_buckets(df: DataFrame) -> int:
    """Bucket count for an index built over ``df``: ``max(1,
    ceil(input_bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes))``,
    so each bucket holds about one AQE target partition of input and a
    test-sized corpus gets one bucket instead of one task and one file
    per bucket per write (framework overhead at that scale, not
    compute). ``input_bytes`` sums Catalyst's size estimates of the
    optimized plan's leaves, driver-side and without a job; the leaves,
    not the root, because the root estimate of a join is the product of
    its children. A leaf Catalyst cannot size (an RDD-backed frame, such
    as ``createDataFrame`` over a Python list, reports
    ``spark.sql.defaultSizeInBytes``) adds nothing: measuring it would
    cost a job."""
    spark = df.sparkSession
    unsized = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    sizes = (leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size()))
    input_bytes = sum(b for b in sizes if b < unsized)
    target = _conf_bytes(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", 64 << 20
    )
    return max(1, math.ceil(input_bytes / target))


def _stored_buckets(spark: SparkSession, table: str) -> int:
    """The bucket count of a stored index table, from its catalog bucket
    spec (driver-side, no job). Appends, compaction and repair reuse it:
    Spark refuses an append whose bucket spec differs from the table's,
    so the count is fixed at build and never re-derived."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Num Buckets":
            return int(r["data_type"])
    raise ValueError(f"{table} has no bucket spec")


def _bucket_aligned(df: DataFrame, buckets: int, *cols: str) -> DataFrame:
    """Repartition to EXACTLY the table's bucket partitioning before a
    bucketed write. Spark's V1 bucketed write never adds an exchange:
    every input task writes its own file for every bucket it holds rows
    for, so an unaligned 32-task frame × 16 buckets commits ~512 files
    per write. ``repartition(buckets, cols)`` uses the same
    Murmur3-pmod HashPartitioning as the bucket assignment, so
    partition i holds exactly bucket i and each write lands ONE file
    per bucket (also the small-file guard for a month of appends on an
    object store). ``buckets`` is the count derived from the build's
    input bytes (_derived_buckets) or, after the build, the stored
    table's own (_stored_buckets); writer parallelism equals it."""
    return df.repartition(buckets, *[F.col(c) for c in cols])


def _drop(spark: SparkSession, *tables: str) -> None:
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _clean_orphan_location(spark: SparkSession, table: str) -> None:
    """Unblock a rebuild after a foreign/crashed process: the default
    session catalog is per-process, so a managed-table directory left
    in the warehouse by ANOTHER process (bench before driver, a killed
    build) raises LOCATION_ALREADY_EXISTS on CREATE even though this
    session's catalog has no such table. If the catalog doesn't know
    the table but its would-be location exists, delete the orphan —
    via the Hadoop FS API so the same code path works on HDFS/object
    stores, not just the local warehouse.

    PRECONDITION — no concurrent runs (ADVICE r9): "the catalog
    doesn't know it" only implies "orphan" while a single process owns
    the warehouse at a time. On a SHARED warehouse without a shared
    metastore, a directory this process's catalog lacks may be a LIVE
    table owned by a concurrently running process, and deleting it
    destroys that table. This repo's bench/driver protocol already
    serializes Spark runs (the same serialization the timing
    measurements require); a deployment that wants concurrency must
    use a shared metastore (then this helper never fires — the catalog
    knows the table) rather than relax this check. A recency guard
    (refuse if recently modified) was considered and rejected: it
    turns a correctness precondition into a timing race."""
    if spark.catalog.tableExists(table):
        return  # mode("overwrite") handles a REGISTERED table itself
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = spark._jvm.org.apache.hadoop.fs.Path(wh, table.lower())
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def process_index_name(spark: SparkSession, base: str) -> str:
    """Per-process index namespace: ``{base}_p<token>``, where the token
    is :func:`scratch.owner_token` (pid plus process start time; letters,
    digits and underscores only).

    The default session catalog is per-process but the warehouse
    directory is shared. Under one fixed name, a process whose catalog
    cannot see another process's live table would delete its files
    (``_clean_orphan_location``) while the owner scans them. With the
    owner token in the name, every process's release is private: the
    stamp-skip warm path still works across calls within a process, and
    no process reads or deletes another live process's index. Naming
    also removes the ``{base}_p<token>_*`` tables, stamps and ``.crc``
    files of owners that are gone from a local warehouse (remote
    warehouses are left to their deployment). A deployment with a
    shared metastore uses a stable name instead.
    """
    wh = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(wh)
    if parsed.scheme not in ("file", ""):
        return f"{base}_p{scratch.owner_token()}"
    root = unquote(parsed.path) if parsed.scheme else wh
    return scratch.owned_name(root, f"{base}_p")


def _stamp_file(spark: SparkSession, name: str):
    """(path, fs) of the release-stamp SIDECAR FILE for index ``name``
    — next to the index tables in the warehouse, via the Hadoop FS API
    so the same code path works on HDFS/object stores."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    path = spark._jvm.org.apache.hadoop.fs.Path(wh, f"{name.lower()}_stamp")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return path, fs


def release_stamp(spark: SparkSession, name: str) -> str | None:
    """The stored release stamp for index ``name`` (None if absent).
    Together with write_release_stamp this makes release maintenance
    IDEMPOTENT: a monthly job computes a cheap corpus fingerprint,
    compares it to the stamp, and skips the build/append entirely when
    the release is already current — re-running a crashed or retried
    orchestration never rebuilds a 100 TB index that is already there.
    The stamp is written LAST (after every index write), so a job that
    died mid-build leaves a stale/absent stamp and the retry rebuilds.

    Storage: a sidecar FILE in the warehouse, not a 1-row catalog
    table — a driver-side FS op both ways, zero Spark jobs. It shares
    the tables' storage, is written last, and a partial write reads as
    absent (readUTF raises → None → rebuild)."""
    path, fs = _stamp_file(spark, name)
    try:
        if not fs.exists(path):
            return None
        stream = fs.open(path)
        try:
            return stream.readUTF()
        finally:
            stream.close()
    except Exception:
        return None  # unreadable/partial stamp → not current → rebuild


def write_release_stamp(spark: SparkSession, name: str, stamp: str) -> None:
    path, fs = _stamp_file(spark, name)
    out = fs.create(path, True)
    try:
        out.writeUTF(stamp)
    finally:
        out.close()


def corpus_fingerprint(docs: DataFrame, *cols: str) -> str:
    """Order-insensitive corpus fingerprint for release stamps: row
    count + a SUM of per-row xxhash64 over ``cols`` — one cheap scan,
    collision-resistant enough to distinguish releases (a 64-bit sum
    over distinct row hashes), and computable identically at any
    scale.

    The stamp sees EXACTLY ``cols`` (ADVICE r9): a fingerprint over
    metadata columns only — e.g. ``(doc_id, n_chars, source)`` — is
    CONTENT-BLIND: an in-place text edit that preserves ids and
    lengths yields an identical stamp and the idempotence skip then
    probes a stale index. Include the content column (or a
    precomputed content hash) whenever in-place mutation is possible:
    ``corpus_fingerprint(docs, "doc_id", "text")`` — xxhash64 streams
    the column, so the cost is one read of the text bytes, not a
    shuffle. Metadata-only stamps are valid only under an
    append-only/immutable-doc contract where (id, length) uniquely
    tracks content; callers choosing that trade must say so (the
    registered dedup_lifecycle_probe does, in its docstring)."""
    row = _fingerprint_agg(docs, cols).first()
    return _stamp(row["n"], row["hs"])


def _fingerprint_agg(docs: DataFrame, cols) -> DataFrame:
    """The 1-row ``(n, hs)`` corpus-fingerprint aggregate — the ONE
    implementation behind corpus_fingerprint, release_current, and
    fingerprint_leg (three hand-rolled copies drifted apart would
    silently rebuild every run or skip a needed rebuild; review r10).

    DECIMAL(38,0) accumulator: a SUM over int64 hashes overflows long
    almost immediately and ANSI mode (the driver session default)
    turns that into ARITHMETIC_OVERFLOW; 38 digits hold the exact sum
    to ~1e19 rows."""
    return docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")
        ).alias("hs"),
    )


def _stamp(n, hs) -> str:
    """Render a fingerprint row as the stamp string. Must agree with
    fingerprint_leg's SQL-side rendering (both print the DECIMAL(38,0)
    sum as a plain integer) — pinned by
    tests/test_round10_ops.py::test_fused_stamp_leg_format."""
    return f"v2:{n}:{hs}"


def fingerprint_leg(docs: DataFrame, cols, kind: str = "fp") -> DataFrame:
    """corpus_fingerprint as a 1-row ``(kind, num, id)`` leg for a
    union with ``prepare_probe(...).checks`` — the stamp string lands under ``id`` so a
    warm caller's idempotence check rides the probe's single pre-flight
    collect instead of paying its own driver action."""
    return _fingerprint_agg(docs, cols).select(
        F.lit(kind).alias("kind"),
        F.lit(None).cast("long").alias("num"),
        F.concat(
            F.lit("v2:"), F.col("n").cast("string"),
            F.lit(":"), F.col("hs").cast("string"),
        ).alias("id"),
    )


def release_current(
    spark: SparkSession, name: str, docs: DataFrame, *cols: str
) -> tuple[str, bool]:
    """``(fingerprint, is_current)`` in ONE Spark job: the
    corpus-fingerprint aggregate; the stored stamp is a driver-side
    sidecar-file read (release_stamp). Fingerprint column choice: see
    corpus_fingerprint's content-blindness note."""
    stored = release_stamp(spark, name)
    row = _fingerprint_agg(docs, cols).first()
    stamp = _stamp(row["n"], row["hs"])
    return stamp, stored is not None and stored == stamp


def _assert_disjoint(stored: DataFrame, incoming: DataFrame, key: str, what: str) -> None:
    """Admission guard: every lifecycle invariant — the side-table union
    IS the full-corpus table, the shingle/assigned tables hold one row
    per doc — holds only while appended id sets are DISJOINT from the
    stored index. A retried monthly job or an overlapping crawl would
    silently duplicate sidecar rows and corrupt Jaccard denominators,
    so overlap is an error, not a merge.

    Cost: one broadcast semi-join of the (crawl-bounded) incoming ids
    against the stored table — the stored side never exchanges (the
    sidecars are bucketed by the key; the semi-join is a pruned scan).
    The text indexes do not pay it as a separate action: they union
    _clash_frame into their pre-flight collect."""
    clash = _clash_frame(stored, incoming, key).collect()
    if clash:
        _raise_overlap(sorted(r[key] for r in clash), key, what)


def _clash_frame(stored: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """≤5 overlapping ``key`` values between a stored table and an
    incoming crawl (semi-join, broadcast crawl side) — the lazy half of
    _assert_disjoint, so callers can fold the guard into another
    driver action."""
    return (
        stored.select(key)
        .join(F.broadcast(incoming.select(key).dropDuplicates([key])), key, "semi")
        .limit(5)
    )


def _raise_overlap(ids: list, key: str, what: str) -> None:
    raise ValueError(
        f"{what}: incoming {key}s overlap the stored index "
        f"(e.g. {ids}) — lifecycle appends must be disjoint; "
        "re-appending a crawl would duplicate sidecar rows and "
        "corrupt counts. Deduplicate or re-key the crawl first."
    )


#: Table-property key holding the stored-census upper bound on a count
#: sidecar (see PendingProbe.finish).
_UB_PROP = "overturelink.ub"


def _write_ub(spark: SparkSession, table: str, ub: int) -> None:
    """Persist the stored-census upper bound as a TABLE PROPERTY on the
    count sidecar — catalog metadata, zero Spark jobs. Durability
    matches the index itself: the in-memory catalog loses properties
    with the process exactly when it loses the tables (a fresh process
    rebuilds anyway); a shared metastore persists them with the
    table."""
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES('{_UB_PROP}'='{int(ub)}')")


def _read_ub(spark: SparkSession, table: str) -> int | None:
    """The persisted upper bound, or None when the property is absent
    — callers then take the exact path, so a missing bound only costs
    time, never correctness. Driver-only catalog lookup, no job."""
    if not spark.catalog.tableExists(table):
        return None
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if r["key"] == _UB_PROP:
            return int(r["value"])
    return None


def _exact_max(
    spark: SparkSession, sidecar: str, keys, generation: DataFrame | None = None
) -> int:
    """Max merged per-key count: of one generation's keyed rows (each
    row counts 1) when ``generation`` is given, else of the whole
    stored count sidecar (SUM of its per-append rows, partition-local
    on the bucket layout)."""
    if generation is None:
        frame = spark.table(sidecar).groupBy(*keys).agg(F.sum("n").alias("n"))
    else:
        frame = generation.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    row = frame.agg(F.max("n")).first()
    return int(row[0]) if row and row[0] is not None else 0


def _preflight_dmax(rows: list, what: str) -> int:
    """Consume collected pre-flight rows (_CountedIndex._preflight):
    raise on a doc_id overlap, return the crawl's per-key max (0 for an
    empty crawl)."""
    clash_ids = [r["id"] for r in rows if r["kind"] == "clash"]
    if clash_ids:
        # the union leg carries ids as strings; report them native so
        # the error matches _assert_disjoint's (numeric ids sort
        # numerically, not lexicographically)
        try:
            clash_ids = [int(v) for v in clash_ids]
        except (TypeError, ValueError):
            pass
        _raise_overlap(sorted(clash_ids), "doc_id", what)
    return next((r["num"] for r in rows if r["kind"] == "dmax"), None) or 0


def _table(suffix: str) -> property:
    return property(lambda self: f"{self.name}_{suffix}")


@dataclass
class PendingProbe:
    """A probe split at its one driver action: ``checks`` is the lazy
    pre-flight frame (see _CountedIndex.prepare_probe); ``finish``
    takes the rows collected from it (or from any union-extended
    version of it) and returns the result plan."""

    _idx: "_CountedIndex"
    _crawl: DataFrame
    _delta: DataFrame
    _delta_counts: DataFrame
    checks: DataFrame
    _ub: int | None

    def finish(self, rows: list, tau: float = 0.5) -> DataFrame:
        idx, delta, counts = self._idx, self._delta, self._delta_counts
        spark, keys = idx.spark, list(idx.KEYS)
        dmax = _preflight_dmax(rows, f"{idx._label}.probe")
        # Every merged count is ≤ ub + dmax, so a bound within the cap
        # proves the hot set empty without reading the count sidecar
        # (the natural-corpus warm path). The bound is exact at
        # build/compact/repair and grows by each append's max, so it
        # only drifts upward and a skip is always sound; a missing
        # bound takes the exact census.
        hot_keys = None
        if self._ub is None or self._ub + dmax > idx.cap:
            # Exact census merge: current per-key counts = stored
            # sidecar rows + crawl rows. NOT a union-then-groupBy, which
            # would discard the sidecar's bucket layout and re-exchange
            # the whole count table per probe: the stored side
            # aggregates partition-local on its buckets, the
            # (crawl-bounded) crawl counts broadcast-join in, and keys
            # the crawl alone pushes over the cap come from the second
            # leg. EAGER: a lazy census (broadcast build side + AQE
            # empty propagation) measured 5.2 → 9.9 s per invocation at
            # sf1, and restricting the stored agg to the crawl's keys by
            # a broadcast join cost more than the aggregation it saves.
            stored = spark.table(idx._counts).groupBy(*keys).agg(
                F.sum("n").alias("n_stored")
            )
            census = (
                stored.join(F.broadcast(counts), keys, "left_outer")
                .filter(F.col("n_stored") + F.coalesce("n", F.lit(0)) > idx.cap)
                .select(*keys)
                .unionByName(counts.filter(F.col("n") > idx.cap).select(*keys))
                .dropDuplicates(keys)
            )
            # natural corpora have no over-cap key: skip both anti-joins
            if census.head(1):
                hot_keys = census
        index = spark.table(idx._data)
        cold_index, cold_delta = (
            f if hot_keys is None else f.join(F.broadcast(hot_keys), keys, "left_anti")
            for f in (index, delta)
        )
        # Crawl-vs-crawl matches WITHOUT moving the corpus: a union of
        # the crawl into the index side would discard the bucket
        # layout and re-exchange the stored corpus whenever the crawl
        # is too big to broadcast. Index matches join the bucketed
        # table (only the crawl side may shuffle), crawl-crawl matches
        # come from a crawl-bounded self-probe, and the union of the two
        # legs IS the full pair set (a match's rows live wholly on one
        # side). The legs union raw so verification runs once.
        pairs = idx._leg(cold_index, cold_delta).unionByName(
            idx._leg(cold_delta, cold_delta)
        )
        hot = None if hot_keys is None else (index.unionByName(delta), hot_keys)
        return idx._verify(pairs, self._crawl, hot, tau)


@dataclass
class _CountedIndex:
    """The lifecycle shared by the two text indexes: three bucketed
    tables under ``name`` — the data table of keyed rows (bucketBy the
    key, the probe's join side), a per-doc side table (bucketBy
    doc_id) and a per-key count sidecar (bucketBy the key — the skew
    guard's census, one row per key per generation).

    A subclass states its ``KEYS``, which tables are ``_data`` /
    ``_side`` / ``_counts``, how docs become keyed rows (``_rows``) and
    side rows (``_side_rows``), one probe leg (``_leg``), the pair
    verification (``_verify(pairs, crawl, hot, tau)``; its ``hot`` is
    None or the pair of all keyed rows and the hot keys), and its
    ``reconcile``/``repair``.

    Durability: the data table is the source of truth. A build or append
    that dies between its three write jobs leaves the sidecars behind
    it; ``reconcile()`` detects the drift and ``repair()`` rewrites the
    sidecars it can from the data table."""

    spark: SparkSession
    name: str
    cap: int
    #: append() auto-compacts when the drifted pre-flight bound exceeds
    #: this fraction of ``cap`` (None disables). The trigger is
    #: BOUND-based, not row-count-based, from the 24-append study
    #: (BENCH_SF1.md): probe wall is FLAT at 4× sidecar bloat while the
    #: bound holds (the pre-flight never scans the sidecar then), so
    #: compacting on rows would be wasted maintenance — the one channel
    #: that degrades probes is bound drift (+= per-append max) crossing
    #: cap and flipping every probe to the exact census over the
    #: bloated sidecar. Compacting re-tightens the bound to the exact
    #: max; if the EXACT max already exceeds the threshold (a genuinely
    #: hot corpus, not drift), auto-compact disables itself on this
    #: instance — compaction cannot reset a true maximum, and in that
    #: regime the exact-path probes are the correct cost.
    auto_compact_ub_frac: float | None = 0.75

    @property
    def _label(self) -> str:
        return f"{type(self).__name__}({self.name})"

    @property
    def _tables(self) -> tuple[str, str, str]:
        return self._data, self._side, self._counts

    @property
    def buckets(self) -> int:
        """The stored bucket count, derived from the input size at
        build() and shared by all three tables."""
        return _stored_buckets(self.spark, self._data)

    def exists(self) -> bool:
        """All index tables present in the catalog — the guard a
        stamped caller pairs with release_stamp before skipping a
        build (a matching stamp with dropped tables must rebuild)."""
        return all(self.spark.catalog.tableExists(t) for t in self._tables)

    def _key_counts(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.KEYS).agg(F.count(F.lit(1)).alias("n"))

    def _aligned_rows(self, what: str, docs: DataFrame, n: int) -> DataFrame:
        # persisted ALREADY bucket-aligned: the data write lands one
        # file per bucket, and the count groupBy is partition-local on
        # the same layout
        return _fresh_persist(
            f"{self.name}_{what}", _bucket_aligned(self._rows(docs), n, *self.KEYS)
        )

    def build(self, docs: DataFrame) -> "_CountedIndex":
        """Release-time build: write all three tables from scratch,
        bucketed by a count derived from ``docs``' input bytes
        (_derived_buckets). The keyed rows are persisted ONCE so the
        writes share one pass; the exact per-key max (the pre-flight
        bound) runs first and materializes that cache, then the three
        table writes run one after another."""
        for t in self._tables:
            _clean_orphan_location(self.spark, t)
        n = _derived_buckets(docs)
        rows = self._aligned_rows("build", docs, n)
        ub = _exact_max(self.spark, self._counts, self.KEYS, rows)
        self._write(docs, rows, n, "overwrite")
        # a table property (zero jobs), set once the count table exists
        _write_ub(self.spark, self._counts, ub)
        return self

    def append(self, crawl: DataFrame) -> None:
        """Admit a crawl: append its rows under the SAME bucket spec
        (the stored count, never re-derived from the crawl) — no
        rebuild, no corpus-wide exchange. The admission guard and the
        crawl's per-key max ride ONE pre-flight collect, which also
        materializes the persisted crawl rows; the three table writes
        then run one after another."""
        n = self.buckets
        rows = self._aligned_rows("append", crawl, n)
        gen_max = _preflight_dmax(
            self._preflight(rows, self._key_counts(rows)).collect(),
            f"{self._label}.append",
        )
        # the bound drifts conservative (stored max ≤ old max + this
        # append's max; compact()/repair() re-tighten) and is written
        # BEFORE the data writes so a mid-append crash can only leave
        # it too high, never stale-low
        prev = _read_ub(self.spark, self._counts)
        ub = None if prev is None else prev + gen_max
        if ub is not None:
            _write_ub(self.spark, self._counts, ub)
        self._write(crawl, rows, n, "append")
        self._settle_ub(ub)

    def _write(self, docs: DataFrame, rows: DataFrame, n: int, mode: str) -> None:
        # sequential on purpose: overlapping the three writes on a thread
        # pool measured a 2× loss (oversubscribed local executor)
        rows.write.bucketBy(n, *self.KEYS).sortBy(*self.KEYS).mode(mode).saveAsTable(
            self._data
        )
        self._write_side(self._side_rows(docs, rows), n, mode)
        self._write_counts(rows, n, mode)

    def _write_side(self, side: DataFrame, n: int, mode: str) -> None:
        # the side table changes keys (doc_id), so it aligns explicitly
        _bucket_aligned(side, n, "doc_id").write.bucketBy(n, "doc_id").mode(
            mode
        ).saveAsTable(self._side)

    def _write_counts(self, rows: DataFrame, n: int, mode: str) -> None:
        # the groupBy inherits the caller's key-aligned layout (the
        # persisted build/append frame, or the bucketed table read in
        # repair()) and is already one partition per bucket
        self._key_counts(rows).write.bucketBy(n, *self.KEYS).mode(mode).saveAsTable(
            self._counts
        )

    def _tighten_ub(self) -> int:
        """Store the exact stored per-key max as the bound."""
        ub = _exact_max(self.spark, self._counts, self.KEYS)
        _write_ub(self.spark, self._counts, ub)
        return ub

    def _settle_ub(self, ub: int | None) -> None:
        """After an append's data writes landed: derive the exact bound
        if none was stored before (one bucket-local agg), then compact
        when the bound crossed ``auto_compact_ub_frac`` of the cap."""
        if ub is None:
            ub = self._tighten_ub()
        frac = self.auto_compact_ub_frac
        if frac is None or ub <= self.cap * frac:
            return
        self.compact()
        if (_read_ub(self.spark, self._counts) or 0) > self.cap * frac:
            self.auto_compact_ub_frac = None  # true max, not drift

    def _preflight(self, rows: DataFrame, counts: DataFrame) -> DataFrame:
        """The pre-flight as ONE lazy tagged-union frame ``(kind, num,
        id)``: ≤5 doc_ids of ``rows`` already in the side table
        (kind='clash') and the per-key max of ``counts`` (kind='dmax'),
        collected in a single driver action."""
        clash = _clash_frame(self.spark.table(self._side), rows, "doc_id")
        return counts.agg(F.max("n").alias("num")).select(
            F.lit("dmax").alias("kind"),
            F.col("num").cast("long").alias("num"),
            F.lit(None).cast("string").alias("id"),
        ).unionByName(
            clash.select(
                F.lit("clash").alias("kind"),
                F.lit(None).cast("long").alias("num"),
                F.col("doc_id").cast("string").alias("id"),
            )
        )

    def probe(self, crawl: DataFrame, tau: float = 0.5) -> DataFrame:
        """(new_id, match_id, jaccard) for the crawl vs (index ∪ crawl).
        The crawl's keys merge into the stored count sidecar before the
        cap filter, so a crawl pushing a key over the cap suppresses it
        exactly as a rebuild would."""
        pending = self.prepare_probe(crawl)
        return pending.finish(pending.checks.collect(), tau=tau)

    def prepare_probe(self, crawl: DataFrame) -> PendingProbe:
        """The probe split at its one driver action: ``.checks`` is the
        lazy pre-flight frame (admission guard + hot-skip bound legs)
        and ``.finish(rows)`` builds the result plan from the collected
        rows. probe() is exactly ``finish(checks.collect())``; callers
        with their OWN 1-row decisions to make (the stamped monthly
        job's fingerprint) union extra legs onto ``.checks`` and collect
        once (kind values 'dmax' and 'clash' are reserved)."""
        # the crawl's rows feed the count merge, both cold sides, the
        # side rows, the hot add-back and the self-probe leg — persist
        # the crawl-bounded frame once per probe. NOT bucket-aligned
        # (unlike the writes): pinning the crawl to `buckets`
        # partitions halves probe parallelism on a wide executor for no
        # exchange saved that matters (the join re-exchanges only the
        # crawl side)
        delta = _fresh_persist(f"{self.name}_probe", self._rows(crawl))
        counts = self._key_counts(delta)
        return PendingProbe(
            self, crawl, delta, counts, self._preflight(delta, counts),
            _read_ub(self.spark, self._counts),
        )

    def compact(self) -> None:
        """Rewrite the count sidecar as ONE row per key under the same
        bucket spec (every append adds a row per key per crawl, so the
        probe's bucket-local SUM would scan rows ∝ appends×keys), then
        re-tighten the pre-flight bound to the exact stored max. The
        side table needs no compaction: doc sets are disjoint across
        appends, so it already holds one row per doc.

        The aggregation is partition-local on the bucket layout; the
        rewrite goes through a temp table + catalog rename because
        Spark refuses to overwrite a table it is reading. The
        drop→rename window is the non-atomic step. Recovery:

        - **Same-process retry** (an exception between DROP and
          RENAME): the catalog still knows ``{table}_compact_tmp`` but
          not the table — the aggregated rows are complete, so finish
          the RENAME.
        - **Fresh process after a crash**: the per-process catalog
          knows NEITHER name, but the orphaned tmp *directory* survives
          in the warehouse where ``DROP TABLE IF EXISTS`` cannot see
          it; ``_clean_orphan_location`` deletes it. (The index itself
          is equally catalog-invisible in that process — exists() is
          False and the caller rebuilds — so the orphan is never the
          only copy of live data.)"""
        spark, table = self.spark, self._counts
        tmp = f"{table}_compact_tmp"
        if spark.catalog.tableExists(table) or not spark.catalog.tableExists(tmp):
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            _clean_orphan_location(spark, tmp)
            spark.table(table).groupBy(*self.KEYS).agg(
                F.sum("n").alias("n")
            ).write.bucketBy(_stored_buckets(spark, table), *self.KEYS).mode(
                "overwrite"
            ).saveAsTable(tmp)
            spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        self._tighten_ub()

    def drop(self) -> None:
        _drop(self.spark, *self._tables, f"{self._counts}_compact_tmp")


@dataclass
class PostingIndex(_CountedIndex):
    """Exact-shingle posting index: ``{name}_post`` (doc_id, h, n_sh;
    bucketBy(h)) + ``{name}_ns`` (per-doc distinct shingle counts;
    bucketBy(doc_id)) + ``{name}_hcount`` (per-key posting counts;
    bucketBy(h)).

    probe() = dedup_incremental's semantics against the stored index:
    per crawl doc, every index-or-crawl doc sharing ≥1 non-hot shingle
    and verifying at Jaccard ≥ tau, one row per ordered (new, match)
    pair. Each posting carries its doc's ``n_sh``, so verification
    reads no side table; ``{name}_ns`` serves the admission guard and
    reconcile(). ``repair()`` rewrites both sidecars from the
    postings."""

    cap: int = NGRAM_DF_CAP

    KEYS = ("h",)
    _data = _post = _table("post")
    _side = _ns = _table("ns")
    _counts = _hcount = _table("hcount")

    _rows = staticmethod(_postings)
    _leg = staticmethod(_probe_pair_counts)

    @staticmethod
    def _side_rows(docs: DataFrame, post: DataFrame) -> DataFrame:
        return post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    @staticmethod
    def _verify(pairs: DataFrame, crawl: DataFrame, hot, tau: float) -> DataFrame:
        # hot add-back: per-doc over-cap arrays so surviving pairs
        # report the TRUE shared count (dedup_incremental's recipe)
        hot = None if hot is None else _hot_doc_arrays(*hot)
        return _finish_probe(pairs, hot, tau=tau).orderBy("new_id", "match_id")

    def reconcile(self) -> dict[str, int | bool]:
        """Consistency check for a suspected partial append: both
        sidecars must account for exactly the postings table's rows.
        Returns the three totals + a ``consistent`` flag; if False,
        call repair()."""
        n_post = self.spark.table(self._post).count()
        n_h = self.spark.table(self._hcount).agg(F.sum("n")).collect()[0][0] or 0
        n_ns = self.spark.table(self._ns).agg(F.sum("n_sh")).collect()[0][0] or 0
        return {
            "postings": n_post,
            "hcount_sum": int(n_h),
            "ns_sum": int(n_ns),
            "consistent": n_post == n_h == n_ns,
        }

    def repair(self) -> None:
        """Rebuild both sidecars from the postings table (the source of
        truth) — the recovery path for a build/append that died between
        its write jobs. The hcount rewrite is partition-local on the
        bucket layout; the ns rewrite is the one full exchange
        (groupBy doc_id over a bucketed-by-h table), acceptable for a
        one-off recovery."""
        n = self.buckets
        post = self.spark.table(self._post)
        self._write_side(self._side_rows(None, post), n, "overwrite")
        self._write_counts(post, n, "overwrite")
        self._tighten_ub()


@dataclass
class BandIndex(_CountedIndex):
    """MinHash/LSH band index: ``{name}_bands`` (doc_id, band, bucket;
    bucketBy(band, bucket)) + ``{name}_sh`` (shingle arrays for the
    exact-Jaccard verify; bucketBy(doc_id)) + ``{name}_bcount``
    (per-(band, bucket) counts).

    probe() = dedup_incremental_minhash's semantics against the stored
    index: the crawl band-probes the table, candidates verify at
    3-gram Jaccard ≥ tau, ordered (new_id, match_id) pairs. ``_bands``
    and ``_sh`` are both sources of truth: ``repair()`` rebuilds the
    count sidecar from ``_bands``."""

    cap: int = BAND_BUCKET_CAP

    KEYS = ("band", "bucket")
    _data = _bands = _table("bands")
    _side = _sh = _table("sh")
    _counts = _bcount = _table("bcount")

    @staticmethod
    def _rows(docs: DataFrame) -> DataFrame:
        return _band_table(minhash_signatures_agg(_postings(docs)))

    @staticmethod
    def _side_rows(docs: DataFrame, bands: DataFrame) -> DataFrame:
        # the shingle-ARRAY frame comes from the docs, not from the
        # band rows
        return shingle_table(docs)

    @staticmethod
    def _leg(o_side: DataFrame, delta: DataFrame) -> DataFrame:
        d, o = delta.alias("d"), o_side.alias("o")
        return d.join(
            o,
            (F.col("d.band") == F.col("o.band"))
            & (F.col("d.bucket") == F.col("o.bucket"))
            & (F.col("d.doc_id") != F.col("o.doc_id")),
        ).select(F.col("d.doc_id").alias("new_id"), F.col("o.doc_id").alias("match_id"))

    def _verify(self, pairs: DataFrame, crawl: DataFrame, hot, tau: float) -> DataFrame:
        # The full-corpus shingle table: the stored doc set and the
        # crawl's are disjoint (guarded), so a plain union IS the total
        # — a dropDuplicates would exchange the whole side table per
        # probe to remove rows that cannot exist.
        sh = self.spark.table(self._sh).unionByName(shingle_table(crawl))
        cands = pairs.dropDuplicates(["new_id", "match_id"])
        return _jaccard_verify(cands, sh, "new_id", "match_id", tau=tau)

    def reconcile(self) -> dict[str, int | bool]:
        """``_bcount`` must account for exactly the band table's rows
        and ``_sh`` for its doc set (partial-append detector)."""
        n_bands = self.spark.table(self._bands).count()
        n_b = self.spark.table(self._bcount).agg(F.sum("n")).collect()[0][0] or 0
        docs_bands = (
            self.spark.table(self._bands).select("doc_id").dropDuplicates().count()
        )
        docs_sh = self.spark.table(self._sh).count()
        return {
            "band_rows": n_bands,
            "bcount_sum": int(n_b),
            "band_docs": docs_bands,
            "sh_docs": docs_sh,
            "consistent": n_bands == n_b and docs_bands == docs_sh,
        }

    def repair(self) -> None:
        """Rebuild the count sidecar from the band table. An ``_sh`` /
        ``_bands`` doc-set mismatch (reconcile's second flag) cannot be
        repaired from the index alone — re-append the missing crawl's
        rows or rebuild."""
        self._write_counts(self.spark.table(self._bands), self.buckets, "overwrite")
        self._tighten_ub()


@dataclass
class SemanticRelease:
    """SemDeDup release: ``{name}_assigned`` (vec_id, v, cl;
    bucketBy(cl)) + ``{name}_cents`` (the frozen k×dim centroids as a
    tiny table — the release sidecar a real deployment ships next to
    the data).

    probe() = semantic_prune_incremental's semantics against the
    stored release: assign ONLY the crawl with the frozen centroids,
    cogroup per cell, one row per pruned crawl vector with the
    lowest-id qualifying keeper. Because the frozen side comes from a
    TABLE, the cogroup's two lineages are disjoint (the self-lineage
    hazard the registered query guards against cannot arise).

    ``k=None`` (the default) sizes k ∝ n at build() — TARGET_CELL mean
    vectors per cell, the documented 100 TB setting (VERDICT r8 ask #4;
    previously it lived only in scripts/bench_semantic_scale.py's flag).
    Fixed-k probes crept 1.38→2.35 s across the sf1→sf10 decade because
    cells grow with the corpus and the per-cell GEMM is O(cell²·d);
    constant mean cell keeps per-cell work — and hence probe wall —
    flat. Appends do NOT re-size k (centroids are frozen by contract);
    a deployment whose corpus doubles via appends re-releases, exactly
    like the reference's monthly release cycle.

    SINGLE-OWNER-PROCESS CONTRACT (ADVICE r9, scope pinned by
    tests/test_round10_ops.py): an append through another instance in
    the SAME process is safe — Spark's CacheManager invalidates and
    recaches plans depending on a table on insert, so the cached
    frozen frame sees it. The residual hazard is an append from
    ANOTHER PROCESS: no cross-process cache invalidation exists, this
    instance keeps probing its pre-append snapshot, and a vec_id
    admitted elsewhere passes the overlap guard then cos=1
    self-matches — silently. One process must own each release name
    at a time (the same no-concurrent-writers protocol the warehouse
    itself requires — see _clean_orphan_location); after a KNOWN
    out-of-band append, call ``refresh()`` to drop the cache. Cheap
    automatic freshness validation was considered and rejected: any
    real check (row count, max vec_id) is a corpus-sized job per
    probe — exactly the cost the cache exists to remove.

    DURABILITY of build(): ``_assigned`` then ``_cents`` commit as two
    non-atomic writes, but ``exists()`` demands BOTH, so a build that
    dies between them reads as absent and the retry rebuilds — the
    failure mode is a redundant rebuild, never a half-release probed
    as current (pinned by tests/test_round10_ops.py); the stale
    ``_assigned`` table the retry overwrites (or, from a fresh
    process, the orphaned directory _clean_orphan_location clears) is
    dead weight, not corruption. Callers stamping releases get the
    same property end-to-end because write_release_stamp runs LAST."""

    spark: SparkSession
    name: str
    k: int | None = None
    _frozen_df: DataFrame | None = field(default=None, repr=False, compare=False)

    #: Mean vectors per cell the auto-k mode targets (mirrors
    #: scripts/bench_semantic_scale.py's TARGET_CELL — measured there:
    #: per-cell pair counts flat as n grows).
    TARGET_CELL = 600

    @property
    def _assigned(self) -> str:
        return f"{self.name}_assigned"

    @property
    def _cents(self) -> str:
        return f"{self.name}_cents"

    @property
    def buckets(self) -> int:
        return _stored_buckets(self.spark, self._assigned)

    def exists(self) -> bool:
        return all(
            self.spark.catalog.tableExists(t)
            for t in (self._assigned, self._cents)
        )

    def build(self, emb: DataFrame) -> "SemanticRelease":
        """Fit k-means on the release corpus (frozen thereafter), write
        the assigned corpus bucketed by cell (count derived from
        ``emb``'s input bytes) + the centroid sidecar. With ``k=None``,
        k is chosen here from the corpus size (one count job —
        release-time, amortized)."""
        from overturelink_data_pipeline_spark.operators.similarity import (
            _lloyd_assign,
            _lloyd_fit,
        )

        for t in (self._assigned, self._cents):
            _clean_orphan_location(self.spark, t)
        if self.k is None:
            self.k = max(8, math.ceil(emb.count() / self.TARGET_CELL))
        cents = _lloyd_fit(emb, k=self.k, kernel="arrow")
        n = _derived_buckets(emb)
        _bucket_aligned(
            _lloyd_assign(emb, cents, kernel="arrow"), n, "cl"
        ).write.bucketBy(n, "cl").sortBy("cl").mode("overwrite").saveAsTable(
            self._assigned
        )
        self._frozen_df = None  # release contents changed
        self.spark.createDataFrame(
            [(cl, list(map(float, c))) for cl, c in sorted(cents.items())],
            "cl long, c array<double>",
        ).write.mode("overwrite").saveAsTable(self._cents)
        return self

    def centroids(self) -> dict[int, list[float]]:
        return {
            int(r["cl"]): list(r["c"])
            for r in self.spark.table(self._cents).collect()
        }

    def _frozen(self) -> DataFrame:
        """The assigned release repartitioned to HashPartitioning(cl)
        and persisted once per instance. Python cogroup
        (FlatMapCoGroupsInPandas) is NOT satisfied by the bucketBy
        layout — it demands exact HashPartitioning(key,
        shuffle.partitions) — so feeding probe() straight from the
        table re-exchanges the whole release PER PROBE (measured: the
        sf10 decade creep, 2.04→2.70 s at 10× corpus, was exactly this
        term). One exchange paid here at first probe; every later
        probe is exchange-free on the corpus side. Invalidated by
        build()/append()."""
        if self._frozen_df is None:
            self._frozen_df = _fresh_persist(
                f"{self.name}_frozen_assigned",
                self.spark.table(self._assigned).repartition("cl"),
            )
        return self._frozen_df

    def _assign(self, emb: DataFrame) -> DataFrame:
        from overturelink_data_pipeline_spark.operators.similarity import (
            _lloyd_assign,
        )

        return _lloyd_assign(emb, self.centroids(), kernel="arrow")

    def append(self, crawl: DataFrame) -> None:
        """Admit a crawl: assign under the FROZEN centroids, append into
        the bucketed release — never re-cluster, never re-shuffle.
        Single-table append (one atomic write job); the centroid
        sidecar is immutable after build, so no partial-append state
        exists for this modality."""
        _assert_disjoint(
            self.spark.table(self._assigned), crawl, "vec_id",
            f"SemanticRelease({self.name}).append",
        )
        n = self.buckets
        _bucket_aligned(self._assign(crawl), n, "cl").write.bucketBy(n, "cl").sortBy(
            "cl"
        ).mode("append").saveAsTable(self._assigned)
        self._frozen_df = None  # release contents changed

    def probe(self, crawl: DataFrame, tau: float | None = None) -> DataFrame:
        from overturelink_data_pipeline_spark.operators.similarity import (
            SEMDEDUP_TAU,
            incremental_cell_prune,
        )

        frozen = self._frozen()
        # a vec_id already in the release would cos=1 self-match and
        # prune itself spuriously; the check rides the cached frozen
        # frame, so it never rescans the table
        _assert_disjoint(
            frozen, crawl, "vec_id", f"SemanticRelease({self.name}).probe"
        )
        return incremental_cell_prune(
            frozen,
            self._assign(crawl),
            tau=SEMDEDUP_TAU if tau is None else tau,
        )

    def refresh(self) -> None:
        """Drop the cached frozen frame so the next probe re-reads the
        table — the manual escape hatch when the single-owner-instance
        contract (class docstring) is broken knowingly, e.g. after an
        out-of-band append from another process."""
        if self._frozen_df is not None:
            try:
                self._frozen_df.unpersist(blocking=False)
            except Exception:
                pass
            self._frozen_df = None

    def drop(self) -> None:
        self.refresh()
        _drop(self.spark, self._assigned, self._cents)


def temp_name(prefix: str) -> str:
    """Collision-free table-name prefix for tests/notebooks."""
    return f"{prefix}_{uuid.uuid4().hex[:8]}"

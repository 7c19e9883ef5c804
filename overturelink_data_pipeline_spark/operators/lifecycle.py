"""Incremental-index lifecycle API — the production surface for the
monthly-release maintenance story the tests pin.

The three incremental dedup modalities (exact shingles → MinHash/LSH
signatures → embedding cells; dedup.py / similarity.py) share one
lifecycle:

    release time   build(corpus)   — one-off heavy pass, persisted as
                                     BUCKETED tables (the exchange paid
                                     once, at write)
    monthly        probe(crawl)    — cost ∝ crawl, index side moves
                                     zero bytes (bucket layout satisfies
                                     the join/cogroup clustering)
                   append(crawl)   — admit the crawl into the index by
                                     APPENDING rows under the same
                                     bucket spec; append-equals-rebuild
                                     is pinned for all three modes
                                     (tests/test_round7_ops.py,
                                     tests/test_round8_ops.py,
                                     tests/test_lifecycle_api.py)

This module lifts the recipes that previously lived inline in
scripts/bench_incremental.py and the lifecycle tests into a product
API. Design rules at the 100 TB point:

- **Sidecar count tables, not recomputed censuses.** Skew guards
  (shingle df caps, LSH bucket caps) need per-key counts over the
  CURRENT index. Storing only the over-cap key list would make appends
  require a full recount; storing per-key counts bucketed BY THE KEY
  makes maintenance a row append and the current count a
  partition-local SUM — no corpus-wide exchange ever again.
- **Same bucket spec on every append** (``insertInto`` semantics via
  ``mode("append").saveAsTable``): new files land in the same bucket
  layout, so probes stay exchange-free on the index side.
- **The probe never trusts the stored census alone**: the crawl's own
  keys are merged in (a crawl can push a key over the cap), so probe
  results equal a from-scratch rebuild over (index ∪ crawl) — the
  pinned property.

Reference analog: SURVEY.md §2 S4–S6's cache-then-refilter lifecycle,
lifted from per-country GeoParquet caches to dedup indexes.
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
    _gram_hashes,
    _hot_doc_arrays,
    _jaccard_verify,
    _probe_pair_counts,
    minhash_signatures_agg,
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


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh array<long>) — distinct 3-gram shingle hashes per
    doc with ≥3 tokens, via THE one shingle-hash definition
    (dedup._gram_hashes); docs: (doc_id, text)."""
    toked = docs.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+")).filter(
        F.size("toks") >= 3
    )
    return toked.select(
        "doc_id", F.array_distinct(_gram_hashes()).alias("sh")
    )


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, h) exploded distinct shingle postings.

    INLINE explode(expr), never explode of the aliased ``sh`` column:
    InferFiltersFromGenerate substitutes an alias into the inferred
    size/isnotnull filter and pushes it below the materializing
    Project, where interpreted predicates have no CSE — O(tokens²)
    string work per doc on the scan side (the pinned r7 lesson;
    re-measured here: 7.0 s → sub-second for a 5 k-doc crawl at sf1)."""
    toked = docs.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+")).filter(
        F.size("toks") >= 3
    )
    return toked.select(
        "doc_id", F.explode(F.array_distinct(_gram_hashes())).alias("h")
    )


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
    return f"v1:{n}:{hs}"


def fingerprint_leg(docs: DataFrame, cols, kind: str = "fp") -> DataFrame:
    """corpus_fingerprint as a 1-row ``(kind, num, id)`` leg for a
    _preflight_frame union — the stamp string lands under ``id`` so a
    warm caller's idempotence check rides the probe's single pre-flight
    collect instead of paying its own driver action."""
    return _fingerprint_agg(docs, cols).select(
        F.lit(kind).alias("kind"),
        F.lit(None).cast("long").alias("num"),
        F.concat(
            F.lit("v1:"), F.col("n").cast("string"),
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
    """Admission guard (ADVICE r8): every lifecycle invariant — the ns
    union IS the full-corpus count, the shingle/assigned tables hold one
    row per doc — holds only while appended id sets are DISJOINT from
    the stored index. A retried monthly job or an overlapping crawl
    would silently duplicate sidecar rows and corrupt Jaccard
    denominators, so overlap is an error, not a merge.

    Cost: one broadcast semi-join of the (crawl-bounded) incoming ids
    against the stored table — the stored side never exchanges (the
    sidecars are bucketed by the key; the semi-join is a pruned scan).
    The probe paths don't even pay that as a separate action: they
    union _clash_frame into the census short-circuit and collect both
    in one job (r10 warm-path shave)."""
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
#: sidecar (see _preflight_verdict).
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
    (an index built by pre-r10 code) — callers then take the exact
    path, so a missing bound only costs time, never correctness.
    Driver-only catalog lookup, no job."""
    if not spark.catalog.tableExists(table):
        return None
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if r["key"] == _UB_PROP:
            return int(r["value"])
    return None


def _exact_max(
    spark: SparkSession, sidecar: str, keys: list[str],
    generation: DataFrame | None = None,
) -> int:
    """Max merged per-key count: of one generation's rows (postings /
    band rows — each row counts 1) when ``generation`` is given, else
    of the whole stored count sidecar (SUM of its per-append rows,
    partition-local on the bucket layout). One implementation for both
    index families (review r10 — the per-class copies had to be kept
    in sync by hand)."""
    if generation is None:
        frame = spark.table(sidecar).groupBy(*keys).agg(F.sum("n").alias("n"))
    else:
        frame = generation.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    row = frame.agg(F.max("n")).first()
    return int(row[0]) if row and row[0] is not None else 0


def _settle_ub_after_append(idx, sidecar: str, keys: list[str], ub: int | None) -> None:
    """After the append's data writes landed: derive the exact bound if
    none was stored before (pre-r10 index — one bucket-local agg,
    maintenance-time), then run the bound-based auto-compact check."""
    if ub is None:
        ub = _exact_max(idx.spark, sidecar, keys)
        _write_ub(idx.spark, sidecar, ub)
    _auto_compact(idx, sidecar, ub)


def _auto_compact(idx, sidecar: str, ub: int) -> None:
    """Bound-based auto-compact shared by both index families — see
    PostingIndex.auto_compact_ub_frac for the rationale."""
    frac = idx.auto_compact_ub_frac
    if frac is None or ub <= idx.cap * frac:
        return
    idx.compact()
    if (_read_ub(idx.spark, sidecar) or 0) > idx.cap * frac:
        idx.auto_compact_ub_frac = None  # true max, not drift


def _preflight_frame(dmax: DataFrame, clash: DataFrame | None) -> DataFrame:
    """The probe's pre-flight as ONE lazy tagged-union frame
    ``(kind, num, id)`` (r10 warm shave, VERDICT r9 ask #4): the
    admission guard (≤5 overlap ids, kind='clash') and ``dmax`` — a
    1-row frame with the crawl's own per-key max under column ``num``
    — collect together in a single driver action. The stored-side
    UPPER BOUND ``ub`` is a table property read driver-side for free
    (_read_ub); _preflight_verdict combines them: every merged count
    is ≤ ub + dmax, so ``ub + dmax <= cap`` proves the hot set EMPTY
    without scanning or aggregating the stored count sidecar at all.
    Callers may union extra 1-row legs (distinct ``kind`` values) so
    their own decisions ride the same action."""
    checks = dmax.select(
        F.lit("dmax").alias("kind"),
        F.col("num").cast("long").alias("num"),
        F.lit(None).cast("string").alias("id"),
    )
    if clash is not None:
        checks = checks.unionByName(
            clash.select(
                F.lit("clash").alias("kind"),
                F.lit(None).cast("long").alias("num"),
                F.col(clash.columns[0]).cast("string").alias("id"),
            )
        )
    return checks


def _preflight_dmax(rows: list, key: str, what: str) -> int:
    """Consume collected _preflight_frame rows: raise on overlap,
    return the delta-side per-key max (0 for an empty delta). The one
    implementation behind both the probe verdict and the fused append
    preflight (see PostingIndex.append)."""
    clash_ids = [r["id"] for r in rows if r["kind"] == "clash"]
    if clash_ids:
        # the union leg carries ids as strings; report them native so
        # the error matches _assert_disjoint's (numeric ids sort
        # numerically, not lexicographically — review r10)
        try:
            clash_ids = [int(v) for v in clash_ids]
        except (TypeError, ValueError):
            pass
        _raise_overlap(sorted(clash_ids), key, what)
    return next((r["num"] for r in rows if r["kind"] == "dmax"), None) or 0


def _preflight_verdict(
    rows: list, ub: int | None, cap: int, key: str, what: str
) -> bool:
    """Consume collected _preflight_frame rows + the driver-side ub:
    raise on overlap, return ``may_have_hot``. False skips the census
    merge entirely (the natural-corpus warm path); True — bound
    failed, bound property missing (pre-r10 index), or an over-cap
    crawl — sends the caller to the exact census merge, the pre-r10
    path, so the bound only ever SKIPS work, never changes the hot
    set. The ub is conservative: exact at build/compact/repair,
    ``+= max(delta counts)`` per append, so it only drifts upward —
    a skip is always sound."""
    dmx = _preflight_dmax(rows, key, what)
    return ub is None or ub + dmx > cap


@dataclass
class PendingProbe:
    """A probe split at its one driver action — see
    PostingIndex.prepare_probe. ``checks`` is lazy; ``finish`` takes
    the rows collected from it (or from any union-extended version of
    it) and returns the result plan."""

    _idx: "PostingIndex"
    _delta_post: DataFrame
    _delta_counts: DataFrame
    checks: DataFrame
    _ub: int | None

    def finish(self, rows: list, tau: float = 0.5) -> DataFrame:
        return self._idx._finish_probe_plan(
            self._delta_post, self._delta_counts, rows, self._ub, tau
        )


def _compact_counts(spark: SparkSession, table: str, keys: list[str]) -> None:
    """Rewrite a count sidecar as ONE row per key under the SAME bucket
    spec (the stored table's own count): every append adds a row per
    key per crawl, so after many monthly appends the probe's
    bucket-local SUM scans rows ∝ appends×keys. The aggregation is
    partition-local on the bucket layout (groupBy ⊆ bucket keys), so
    compaction itself never exchanges; the rewrite goes through a temp
    table + catalog rename because Spark refuses to overwrite a table
    it is reading. The drop→rename window is the non-atomic step.
    Recovery (both crash scopes handled in code):

    - **Same-process retry** (an exception between DROP and RENAME):
      the catalog still knows ``{table}_compact_tmp`` but not
      ``table`` — the aggregated rows are complete, so finish the
      RENAME and return instead of failing at ``spark.table(table)``.
    - **Fresh process after a crash**: the per-process catalog knows
      NEITHER name, but the orphaned tmp *directory* survives in the
      warehouse where ``DROP TABLE IF EXISTS`` cannot see it, and any
      future compact would die with LOCATION_ALREADY_EXISTS. The
      ``_clean_orphan_location`` call below deletes it. (The index
      itself is equally catalog-invisible in that process — exists()
      is False and the caller rebuilds — so the orphan is never the
      only copy of live data.)"""
    tmp = f"{table}_compact_tmp"
    if spark.catalog.tableExists(tmp) and not spark.catalog.tableExists(table):
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
        return
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    _clean_orphan_location(spark, tmp)
    agg = spark.table(table).groupBy(*keys).agg(F.sum("n").alias("n"))
    agg.write.bucketBy(_stored_buckets(spark, table), *keys).mode(
        "overwrite"
    ).saveAsTable(tmp)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")


@dataclass
class PostingIndex:
    """Exact-shingle posting index: ``{name}_post`` (doc_id, h;
    bucketBy(h)) + ``{name}_ns`` (per-doc distinct shingle counts;
    bucketBy(doc_id)) + ``{name}_hcount`` (per-key posting counts;
    bucketBy(h) — the skew-guard sidecar).

    probe() = dedup_incremental's semantics against the stored index:
    per crawl doc, every index-or-crawl doc sharing ≥1 non-hot shingle
    and verifying at Jaccard ≥ tau, one row per ordered (new, match)
    pair.

    ``guard_overlap`` (default on) rejects crawls whose doc_ids already
    exist in the index — see _assert_disjoint. Durability: the postings
    table is the source of truth; if a build/append dies between its
    three write jobs the sidecars lag it — ``reconcile()`` detects the
    drift and ``repair()`` rewrites both sidecars from the postings
    (the documented recovery path, ADVICE r8)."""

    spark: SparkSession
    name: str
    cap: int = field(default_factory=lambda: NGRAM_DF_CAP)
    guard_overlap: bool = True
    #: append() auto-compacts when the drifted pre-flight bound exceeds
    #: this fraction of ``cap`` (None disables). The trigger is
    #: BOUND-based, not row-count-based, from the 24-append study
    #: (BENCH_SF1.md r10): probe wall is FLAT at 4× sidecar bloat while
    #: the ub bound holds (the r10 pre-flight never scans the sidecar
    #: then), so compacting on rows would be wasted maintenance — the
    #: one channel that degrades probes is ub drift (+= per-append max)
    #: crossing cap and flipping every probe to the exact census over
    #: the bloated sidecar. Compacting re-tightens ub to the exact max;
    #: if the EXACT max already exceeds the threshold (a genuinely hot
    #: corpus, not drift), auto-compact disables itself on this
    #: instance — compaction cannot reset a true maximum, and in that
    #: regime the exact-path probes are the correct cost.
    auto_compact_ub_frac: float | None = 0.75

    @property
    def _post(self) -> str:
        return f"{self.name}_post"

    @property
    def _ns(self) -> str:
        return f"{self.name}_ns"

    @property
    def _hcount(self) -> str:
        return f"{self.name}_hcount"

    @property
    def buckets(self) -> int:
        """The stored bucket count, derived from the input size at
        build() and shared by all three tables."""
        return _stored_buckets(self.spark, self._post)

    def exists(self) -> bool:
        """All index tables present in the catalog — the guard a
        stamped caller pairs with release_stamp before skipping a
        build (a matching stamp with dropped tables must rebuild)."""
        return all(
            self.spark.catalog.tableExists(t)
            for t in (self._post, self._ns, self._hcount)
        )

    def build(self, docs: DataFrame) -> "PostingIndex":
        """Release-time build: write all three sidecars from scratch,
        bucketed by a count derived from ``docs``' input bytes
        (_derived_buckets). The postings frame is persisted ONCE so the
        three write jobs share one tokenize/explode pass; the pre-flight
        upper-bound aggregate MATERIALIZES the cache first, then the
        three table writes run one after another."""
        for t in (self._post, self._ns, self._hcount):
            _clean_orphan_location(self.spark, t)
        n = _derived_buckets(docs)
        # persisted ALREADY bucket-aligned: the postings write lands one
        # file per bucket, and the hcount groupBy(h) below is
        # partition-local on the same layout
        post = _fresh_persist(
            f"{self.name}_build_post", _bucket_aligned(_postings(docs), n, "h")
        )
        # exact per-key max over the fresh index (one partition-local
        # agg) — the probe pre-flight's skip bound; running it FIRST
        # also populates the cache the three writes below share
        ub = _exact_max(self.spark, self._hcount, ["h"], post)
        self._write_trio(post, n, "overwrite")
        # stored as a table property (zero write jobs), AFTER the
        # hcount table exists
        _write_ub(self.spark, self._hcount, ub)
        return self

    def append(self, crawl: DataFrame) -> None:
        """Admit a crawl: append its postings and sidecar rows under
        the SAME bucket spec (the stored count, never re-derived from
        the crawl) — no rebuild, no corpus-wide exchange. Current
        per-key/per-doc counts are SUMs over appended rows,
        partition-local on the bucket layout. The crawl's postings are
        persisted once for the guard + three writes; see the class
        docstring for recovery if the job dies mid-trio.

        The admission guard and the generation per-key max ride ONE
        tagged-union collect (the probe pre-flight recipe), which also
        materializes the persisted crawl postings; the three table
        writes then run one after another."""
        n = self.buckets
        post = _fresh_persist(
            f"{self.name}_append_post", _bucket_aligned(_postings(crawl), n, "h")
        )
        clash = (
            _clash_frame(self.spark.table(self._ns), post, "doc_id")
            if self.guard_overlap
            else None
        )
        rows = _preflight_frame(
            post.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("num")),
            clash,
        ).collect()
        gen_max = _preflight_dmax(
            rows, "doc_id", f"PostingIndex({self.name}).append"
        )
        # the bound drifts conservative (stored max ≤ old max + this
        # append's max; compact()/repair() re-tighten) and is written
        # BEFORE the data writes so a mid-append crash can only leave
        # it too high, never stale-low
        prev = _read_ub(self.spark, self._hcount)
        ub = None if prev is None else prev + gen_max
        if ub is not None:
            _write_ub(self.spark, self._hcount, ub)
        self._write_trio(post, n, "append")
        _settle_ub_after_append(self, self._hcount, ["h"], ub)

    def _write_trio(self, post: DataFrame, n: int, mode: str) -> None:
        # sequential on purpose: overlapping the three writes on a thread
        # pool measured a 2× loss (oversubscribed local executor)
        post.write.bucketBy(n, "h").sortBy("h").mode(mode).saveAsTable(self._post)
        self._write_ns(post, n, mode)
        self._write_hcount(post, n, mode)

    def _write_ns(self, post: DataFrame, n: int, mode: str) -> None:
        # ns changes keys (doc_id), so it aligns explicitly
        _bucket_aligned(
            post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")), n, "doc_id"
        ).write.bucketBy(n, "doc_id").mode(mode).saveAsTable(self._ns)

    def _write_hcount(self, post: DataFrame, n: int, mode: str) -> None:
        # hcount's groupBy(h) inherits the caller's h-aligned layout
        # (the persisted build/append frame, or the bucketed table read
        # in repair()) and is already one partition per bucket
        post.groupBy("h").agg(F.count(F.lit(1)).alias("n")).write.bucketBy(
            n, "h"
        ).mode(mode).saveAsTable(self._hcount)

    def probe(self, crawl: DataFrame, tau: float = 0.5) -> DataFrame:
        """(new_id, match_id, jaccard) for the crawl vs (index ∪ crawl).
        The crawl's keys merge into the stored count sidecar before the
        cap filter, so a crawl pushing a key over the cap suppresses it
        exactly as a rebuild would."""
        pending = self.prepare_probe(crawl)
        return pending.finish(pending.checks.collect(), tau=tau)

    def prepare_probe(self, crawl: DataFrame) -> "PendingProbe":
        """The probe split at its one driver action: ``.checks`` is the
        lazy tagged-union pre-flight frame (admission guard + hot-skip
        bound legs — see _probe_preflight) and ``.finish(rows)`` builds
        the result plan from the collected rows. probe() is exactly
        ``finish(checks.collect())``; callers with their OWN 1-row
        decisions to make (the stamped monthly job's fingerprint +
        stamp read) union extra legs onto ``.checks`` and collect once
        — the whole warm invocation then costs TWO driver actions
        (r10; kind values 'dmax'/'ub'/'clash' are reserved)."""
        # the crawl's postings feed SIX consumers (count merge, both
        # cold sides, ns, hot arrays, the self-probe leg) — persist the
        # delta-bounded frame once per probe
        # NOT bucket-aligned (unlike the writes): A/B'd — pinning the
        # crawl to `buckets` partitions halves probe parallelism on a
        # wide executor for no exchange saved that matters (the join
        # re-exchanges only the crawl side, which is delta-bounded)
        delta_post = _fresh_persist(f"{self.name}_probe_dpost", _postings(crawl))
        # an overlapping crawl would duplicate ns rows below and
        # corrupt every Jaccard denominator silently (ADVICE r8); the
        # guard's ≤5-row clash frame rides the same collect as the
        # hot-census decision — one driver action, not two
        clash = (
            _clash_frame(self.spark.table(self._ns), delta_post, "doc_id")
            if self.guard_overlap
            else None
        )
        delta_counts = delta_post.groupBy("h").agg(
            F.count(F.lit(1)).alias("n_delta")
        )
        checks = _preflight_frame(
            delta_counts.agg(F.max("n_delta").alias("num")), clash
        )
        return PendingProbe(
            self, delta_post, delta_counts, checks,
            _read_ub(self.spark, self._hcount),
        )

    def _finish_probe_plan(
        self,
        delta_post: DataFrame,
        delta_counts: DataFrame,
        rows: list,
        ub: int | None,
        tau: float,
    ) -> DataFrame:
        spark = self.spark
        index_post = spark.table(self._post)
        # pre-flight verdicts from the collected rows: admission guard
        # + the ub-bound skip. The common warm path (natural
        # corpus, ub + crawl max well under cap) never touches the
        # stored count sidecar — previously EVERY probe aggregated it
        # and broadcast-joined the delta counts just to learn the hot
        # set is empty.
        may_have_hot = _preflight_verdict(
            rows, ub, self.cap, "doc_id", f"PostingIndex({self.name}).probe"
        )
        has_hot = False
        hot_keys = None
        if may_have_hot:
            # exact census merge: current per-key counts = stored
            # sidecar rows + delta rows. NOT a union-then-groupBy: the
            # union would discard the sidecar's bucket layout and
            # re-exchange the whole count table per probe. Instead the
            # stored side aggregates partition-local on its buckets
            # and the (crawl-bounded) delta counts broadcast-join in;
            # keys the crawl alone pushes over the cap come from the
            # second (tiny) leg. EAGER, kept after an r9 A/B: the lazy
            # alternative (census as broadcast build side + AQE empty
            # propagation) measured 5.2 → 9.9 s per invocation at sf1.
            # A rejected r10 A/B is ledgered too: restricting the
            # stored agg to the delta's keys via an inner broadcast
            # join measured 1.12 s vs 0.84-1.08 s for this full
            # bucket-local agg — the broadcast probe costs more than
            # the aggregation it saves.
            stored = spark.table(self._hcount).groupBy("h").agg(
                F.sum("n").alias("n_stored")
            )
            hot_keys = (
                stored.join(F.broadcast(delta_counts), "h", "left_outer")
                .filter(
                    F.col("n_stored") + F.coalesce("n_delta", F.lit(0)) > self.cap
                )
                .select("h")
                .unionByName(
                    delta_counts.filter(F.col("n_delta") > self.cap).select("h")
                )
                .dropDuplicates(["h"])
            )
            has_hot = bool(hot_keys.head(1))
        cold_index = (
            index_post.join(F.broadcast(hot_keys), "h", "left_anti")
            if has_hot
            else index_post
        )
        cold_delta = (
            delta_post.join(F.broadcast(hot_keys), "h", "left_anti")
            if has_hot
            else delta_post
        )
        # per-doc totals over the FULL corpus: the stored sidecar's doc
        # set and the crawl's are disjoint, so union IS the total
        ns = spark.table(self._ns).unionByName(
            delta_post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        )
        # hot add-back: per-doc over-cap arrays so surviving pairs
        # report the TRUE shared count (dedup_incremental's recipe)
        hot = (
            _hot_doc_arrays(index_post.unionByName(delta_post), hot_keys)
            if has_hot
            else None
        )
        # Delta-delta completeness WITHOUT moving the corpus: the
        # registered query unions delta into the `o` side, which is
        # fine for an in-plan index but would re-exchange the stored
        # corpus here whenever the crawl is too big to broadcast (the
        # union discards the bucket-derived partitioning). Instead the
        # probe splits by where the match lives — index matches join
        # the bucketed table (only the crawl side may shuffle),
        # delta-delta matches come from a crawl-bounded self-probe —
        # and the union of the two IS the full pair set (a match's
        # postings live wholly on one side, so every pair's
        # intersection count is complete within its leg). The legs
        # union as RAW pair counts so the ns joins + tau filter run
        # once — finished-leg union paid 4 broadcast stages where 2
        # suffice (r10; the index is narrow, so broadcast-stage count
        # dominates probe wall at bench scale).
        pairs = _probe_pair_counts(cold_index, cold_delta).unionByName(
            _probe_pair_counts(cold_delta, cold_delta)
        )
        return _finish_probe(pairs, ns, hot, tau=tau).orderBy("new_id", "match_id")

    def compact(self) -> None:
        """Collapse the per-key count sidecar to one row per key (the
        probe's bucket-local SUM then scans keys, not appends×keys).
        ``_ns`` needs no compaction: doc sets are disjoint across
        appends (guarded), so it is already one row per doc. Also
        re-tightens the probe pre-flight's upper bound to the exact
        stored max (append drift is one-directional — see append)."""
        _compact_counts(self.spark, self._hcount, ["h"])
        _write_ub(self.spark, self._hcount, _exact_max(self.spark, self._hcount, ["h"]))

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
        self._write_ns(post, n, "overwrite")
        self._write_hcount(post, n, "overwrite")
        _write_ub(self.spark, self._hcount, _exact_max(self.spark, self._hcount, ["h"]))

    def drop(self) -> None:
        _drop(
            self.spark,
            self._post,
            self._ns,
            self._hcount,
            f"{self._hcount}_compact_tmp",
        )


@dataclass
class BandIndex:
    """MinHash/LSH band index: ``{name}_bands`` (doc_id, band, bucket;
    bucketBy(band, bucket)) + ``{name}_sh`` (shingle arrays for the
    exact-Jaccard verify; bucketBy(doc_id)) + ``{name}_bcount``
    (per-(band, bucket) counts — the hot-bucket sidecar).

    probe() = dedup_incremental_minhash's semantics against the stored
    index: the crawl band-probes the table, candidates verify at
    3-gram Jaccard ≥ tau, ordered (new_id, match_id) pairs.

    ``guard_overlap`` / durability mirror PostingIndex: disjoint
    appends are enforced against the ``_sh`` doc set (the invariant
    that lets probe() union the shingle sidecar without a corpus-wide
    dropDuplicates exchange); ``_bands`` + ``_sh`` are the source of
    truth and ``repair()`` rebuilds the count sidecar from ``_bands``
    after a partial append."""

    spark: SparkSession
    name: str
    cap: int = field(default_factory=lambda: BAND_BUCKET_CAP)
    guard_overlap: bool = True
    #: bound-based auto-compact — see PostingIndex.auto_compact_ub_frac
    auto_compact_ub_frac: float | None = 0.75

    @property
    def _bands(self) -> str:
        return f"{self.name}_bands"

    @property
    def _sh(self) -> str:
        return f"{self.name}_sh"

    @property
    def _bcount(self) -> str:
        return f"{self.name}_bcount"

    @property
    def buckets(self) -> int:
        """See PostingIndex.buckets."""
        return _stored_buckets(self.spark, self._bands)

    def _band_rows(self, docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        # postings via the inline-explode shape (_postings docstring);
        # the shingle-ARRAY frame is built separately for the verify
        # sidecar — never explode the aliased array
        post = _postings(docs)
        return _band_table(minhash_signatures_agg(post)), shingle_table(docs)

    def exists(self) -> bool:
        """See PostingIndex.exists."""
        return all(
            self.spark.catalog.tableExists(t)
            for t in (self._bands, self._sh, self._bcount)
        )

    def build(self, docs: DataFrame) -> "BandIndex":
        # persist the band rows so the bands write + count write share
        # one tokenize/minhash pass (ADVICE r8); the sh sidecar is a
        # different lineage (arrays, not postings) and writes once
        for t in (self._bands, self._sh, self._bcount):
            _clean_orphan_location(self.spark, t)
        n = _derived_buckets(docs)
        bands, sh = self._band_rows(docs)
        bands = _fresh_persist(
            f"{self.name}_build_bands", _bucket_aligned(bands, n, "band", "bucket")
        )
        # pre-flight bound agg first (materializes the band cache),
        # then the three writes — same shape as PostingIndex.build
        ub = _exact_max(self.spark, self._bcount, ["band", "bucket"], bands)
        self._write_trio(bands, sh, n, "overwrite")
        _write_ub(self.spark, self._bcount, ub)
        return self

    def append(self, crawl: DataFrame) -> None:
        n = self.buckets  # the stored count — see PostingIndex.append
        bands, sh = self._band_rows(crawl)
        bands = _fresh_persist(
            f"{self.name}_append_bands", _bucket_aligned(bands, n, "band", "bucket")
        )
        # guard + generation max fused into ONE collect (see
        # PostingIndex.append); materializes the band cache too
        clash = (
            _clash_frame(self.spark.table(self._sh), bands, "doc_id")
            if self.guard_overlap
            else None
        )
        rows = _preflight_frame(
            bands.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("num")),
            clash,
        ).collect()
        gen_max = _preflight_dmax(
            rows, "doc_id", f"BandIndex({self.name}).append"
        )
        # drifted bound written BEFORE the data writes (crash-sound)
        # and re-tightened by compact()/repair()
        prev = _read_ub(self.spark, self._bcount)
        ub = None if prev is None else prev + gen_max
        if ub is not None:
            _write_ub(self.spark, self._bcount, ub)
        self._write_trio(bands, sh, n, "append")
        _settle_ub_after_append(self, self._bcount, ["band", "bucket"], ub)

    def _write_trio(self, bands: DataFrame, sh: DataFrame, n: int, mode: str) -> None:
        # sequential on purpose — see PostingIndex._write_trio
        bands.write.bucketBy(n, "band", "bucket").sortBy("band", "bucket").mode(
            mode
        ).saveAsTable(self._bands)
        _bucket_aligned(sh, n, "doc_id").write.bucketBy(n, "doc_id").mode(
            mode
        ).saveAsTable(self._sh)
        self._write_counts(bands, n, mode)

    def _write_counts(self, bands: DataFrame, n: int, mode: str) -> None:
        # partition-local + one file per bucket: the caller's frame is
        # (band, bucket)-aligned (persisted build/append frame or the
        # bucketed table read in repair())
        bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("n")
        ).write.bucketBy(n, "band", "bucket").mode(mode).saveAsTable(self._bcount)

    def probe(self, crawl: DataFrame, tau: float = 0.5) -> DataFrame:
        spark = self.spark
        delta_bands, delta_sh = self._band_rows(crawl)
        # band rows feed the count merge, both cands legs' delta side;
        # persist the delta-bounded frame once per probe
        delta_bands = _fresh_persist(f"{self.name}_probe_dbands", delta_bands)
        # overlap would double doc rows in the sh union below (no
        # dropDuplicates there by design — see that comment); the ≤5-row
        # clash frame collects together with the hot-bucket decision —
        # one driver action, not two (r10)
        clash = (
            _clash_frame(spark.table(self._sh), delta_bands, "doc_id")
            if self.guard_overlap
            else None
        )
        index_bands = spark.table(self._bands)
        delta_counts = delta_bands.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("n_delta")
        )
        # ONE pre-flight action: admission guard + the ub-bound
        # hot-bucket skip (see PostingIndex.prepare_probe)
        rows = _preflight_frame(
            delta_counts.agg(F.max("n_delta").alias("num")), clash
        ).collect()
        may_have_hot = _preflight_verdict(
            rows,
            _read_ub(spark, self._bcount),
            self.cap,
            "doc_id",
            f"BandIndex({self.name}).probe",
        )
        has_hot = False
        big = None
        if may_have_hot:
            # same bucket-local + broadcast count merge as
            # PostingIndex.probe's exact path
            stored = spark.table(self._bcount).groupBy("band", "bucket").agg(
                F.sum("n").alias("n_stored")
            )
            big = (
                stored.join(
                    F.broadcast(delta_counts), ["band", "bucket"], "left_outer"
                )
                .filter(
                    F.col("n_stored") + F.coalesce("n_delta", F.lit(0)) > self.cap
                )
                .select("band", "bucket")
                .unionByName(
                    delta_counts.filter(F.col("n_delta") > self.cap).select(
                        "band", "bucket"
                    )
                )
                .dropDuplicates(["band", "bucket"])
            )
            # natural corpora usually have NO over-cap bucket:
            # short-circuit past both anti-joins (ADVICE r8)
            has_hot = bool(big.head(1))
        kept_index = (
            index_bands.join(F.broadcast(big), ["band", "bucket"], "left_anti")
            if has_hot
            else index_bands
        )
        kept_delta = (
            delta_bands.join(F.broadcast(big), ["band", "bucket"], "left_anti")
            if has_hot
            else delta_bands
        )

        # same two-leg split as PostingIndex.probe: crawl-vs-table (the
        # bucketed side never shuffles) + crawl-vs-crawl (bounded by the
        # crawl) — the union is the full candidate set
        def cand(o_side: DataFrame) -> DataFrame:
            d, o = kept_delta.alias("d"), o_side.alias("o")
            return d.join(
                o,
                (F.col("d.band") == F.col("o.band"))
                & (F.col("d.bucket") == F.col("o.bucket"))
                & (F.col("d.doc_id") != F.col("o.doc_id")),
            ).select(
                F.col("d.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("match_id"),
            )

        cands = (
            cand(kept_index)
            .unionByName(cand(kept_delta))
            .dropDuplicates(["new_id", "match_id"])
        )
        # plain union, NO dropDuplicates: the stored table holds one row
        # per doc and appends are guarded disjoint, so deduping here
        # would pay a corpus-wide exchange of the shingle sidecar on
        # every probe to remove rows that cannot exist (r9 scale fix —
        # the dedup discarded the table's bucket layout)
        sh = spark.table(self._sh).unionByName(delta_sh)
        return _jaccard_verify(cands, sh, "new_id", "match_id", tau=tau)

    def compact(self) -> None:
        """Collapse the per-bucket count sidecar to one row per
        (band, bucket) — see PostingIndex.compact. Re-tightens the
        pre-flight upper bound to the exact stored max."""
        _compact_counts(self.spark, self._bcount, ["band", "bucket"])
        _write_ub(
            self.spark, self._bcount,
            _exact_max(self.spark, self._bcount, ["band", "bucket"]),
        )

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
        rows or rebuild; the docstring IS the documented recovery
        contract (ADVICE r8)."""
        self._write_counts(self.spark.table(self._bands), self.buckets, "overwrite")
        _write_ub(
            self.spark, self._bcount,
            _exact_max(self.spark, self._bcount, ["band", "bucket"]),
        )

    def drop(self) -> None:
        _drop(
            self.spark,
            self._bands,
            self._sh,
            self._bcount,
            f"{self._bcount}_compact_tmp",
        )


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
    guard_overlap: bool = True
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
        """See PostingIndex.buckets."""
        return _stored_buckets(self.spark, self._assigned)

    def exists(self) -> bool:
        """See PostingIndex.exists."""
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
        if self.guard_overlap:
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
        if self.guard_overlap:
            # a vec_id already in the release would cos=1 self-match
            # and prune itself spuriously; the check rides the cached
            # frozen frame, so it never rescans the table
            _assert_disjoint(
                frozen, crawl, "vec_id",
                f"SemanticRelease({self.name}).probe",
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

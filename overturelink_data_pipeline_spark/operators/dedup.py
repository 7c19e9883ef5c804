"""Deduplication operators (BASELINE.json north star: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup).

The driver corpus has no duplicates by construction (every ``text`` is
distinct at every SF), so each query deterministically synthesizes its
duplicate population from the corpus itself (id-shifted copies,
case-mangled copies, prefix truncations, perturbed vectors) — the
oracle applies the same construction, so parity checks the *operator*,
not the synthetic data.

Scale design notes:

- exact dedup = hash-groupBy: one shuffle on md5(text) — at 100 TB the
  canonical pattern, no driver involvement;
- MinHash+LSH: shingle → minhash-signature → band → bucket join. All
  JVM-side (xxhash64 + higher-order array functions), the candidate
  join shuffles only on (band, bucket-hash) keys, and verification
  runs per candidate pair — never O(n²);
- SimHash: 64-bit signature via bit-bucket majority vote, pairs from
  16-bit band blocking, Hamming-distance verify with bit_count;
- n-gram Jaccard: blocked self-join (lang, length-bucket) — blocking
  keys bound the pair blow-up;
- embedding cosine: label-blocked pair join with double-precision
  left-fold dot products (bit-stable vs the oracle).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from overturelink_data_pipeline_spark.registry import spark_query
from overturelink_data_pipeline_spark.session import (
    ensure_parallelism,
    read_table,
)

def with_planted_copies(
    df: DataFrame,
    modulus: int,
    mangle: dict[str, Column],
    id_col: str = "doc_id",
    offset: int = 1_000_000,
) -> DataFrame:
    """One-scan planted-duplicate corpus (oracle side: ``UNION ALL``).

    Every ``modulus``-th row fans out into itself plus a copy with
    ``id_col + offset`` and the ``mangle``d columns rewritten, via a
    single explode. The naive union-of-two-filtered-scans shape reads
    the source file twice and (on a rescue-repartitioned scan) shuffles
    it twice — measured 0.90 → 0.69 s at sf1 on dedup_exact_normalized.
    """
    cols = df.columns
    base = F.struct(*[F.col(c).alias(c) for c in cols])
    copy = F.struct(
        *[
            (F.col(id_col) + offset).alias(id_col)
            if c == id_col
            else (mangle[c].alias(c) if c in mangle else F.col(c).alias(c))
            for c in cols
        ]
    )
    fan = F.when(
        F.col(id_col) % modulus == 0, F.array(base, copy)
    ).otherwise(F.array(base))
    return df.select(F.explode(fan).alias("_r")).select(
        *[F.col(f"_r.{c}").alias(c) for c in cols]
    )


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

_DUP_UNION = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
"""


@spark_query(
    "dedup_exact",
    oracle=f"""
    WITH corpus AS ({_DUP_UNION})
    SELECT md5(text)                         AS content_hash,
           CAST(MIN(doc_id) AS BIGINT)       AS canonical_id,
           CAST(COUNT(*) AS BIGINT)          AS n_copies
    FROM corpus
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    ORDER BY canonical_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content hash, keep min-id canonical row.
    One shuffle; the HAVING>1 output is the duplicate report."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    corpus = with_planted_copies(docs, 3, mangle={})
    return (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("canonical_id")
    )


@spark_query(
    "dedup_exact_normalized",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) || '  ' FROM documents WHERE doc_id % 5 = 0
    )
    SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT)    AS n_copies
    FROM corpus
    GROUP BY 1
    HAVING COUNT(*) > 1
    ORDER BY canonical_id
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: case/whitespace-mangled copies collapse
    onto their originals under lower+collapse normalization."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select("doc_id", "text")
    corpus = with_planted_copies(
        docs, 5, mangle={"text": F.concat(F.upper("text"), F.lit("  "))}
    )
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "\\s+", " ")
    return (
        corpus.groupBy(F.md5(norm).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("canonical_id")
    )


# ---------------------------------------------------------------------------
# Token-shingle helpers (shared by jaccard / minhash)
# ---------------------------------------------------------------------------

_PERSIST_REGISTRY: dict[str, DataFrame] = {}


def _fresh_persist(key: str, df: DataFrame, level=None) -> DataFrame:
    """Persist ``df``, releasing the PREVIOUS invocation's cache under
    the same key first — repeated query invocations in a long-lived
    session (the bench/correctness loop) would otherwise accumulate
    MEMORY_AND_DISK partitions until executor storage thrashes. The
    frame returned by the current invocation stays cached for its
    caller's action; it is released when the query runs next."""
    prev = _PERSIST_REGISTRY.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
    out = df.persist(level) if level is not None else df.persist()
    _PERSIST_REGISTRY[key] = out
    return out


#: Skew guards for the near-dup candidate joins. A key (shingle hash or
#: LSH band bucket) shared by d docs emits d(d-1)/2 candidate pairs, so
#: one boilerplate shingle in 1% of a web-scale corpus would emit ~1e16
#: pairs — the classic inverted-index blow-up. Standard practice
#: (stop-shingle removal, LSH bucket caps) bounds candidate cost by
#: dropping non-discriminative keys from CANDIDATE GENERATION only.
#: Defaults sit above the driver corpora (max shingle df is 25, max
#: band bucket is 194, both at sf0.1 — the regen log of
#: scripts/gen_dedup_goldens.py prints the headroom), so oracle/golden
#: results are bit-identical there; scripts/bench_skew.py exercises a planted
#: hot-boilerplate corpus against both settings. The golden replica
#: (scripts/gen_dedup_goldens.py) mirrors BAND_BUCKET_CAP's default.
NGRAM_DF_CAP = int(os.environ.get("SPARK_GRAFT_NGRAM_DF_CAP", "128"))
BAND_BUCKET_CAP = int(os.environ.get("SPARK_GRAFT_BUCKET_CAP", "256"))


_PREFIX_CORPUS_SQL = """
    SELECT doc_id, lang, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, lang, substr(text, 1, CAST(floor(length(text) * 0.8) AS INT))
    FROM documents WHERE doc_id % 7 = 0
"""


def _prefix_corpus(documents: DataFrame) -> DataFrame:
    """Corpus + 80%-prefix copies of every 7th doc (high shingle overlap
    with the original, low overlap with everything else), from the
    ``documents`` table's frame: a caller that also reads the table for
    something else passes the same frame, so the query reads it once."""
    docs = ensure_parallelism(documents).select("doc_id", "lang", "text")
    # explicit floor: DuckDB CAST(double AS INT) rounds-to-nearest
    # while Spark truncates — floor in both keeps prefixes equal
    prefix = F.substring(
        F.col("text"), 1, F.floor(F.length("text") * 0.8).cast("int")
    )
    return with_planted_copies(docs, 7, mangle={"text": prefix})


def _gram_hashes(toks: str = "toks") -> Column:
    """Token-triple shingle hashes from a materialized token-array
    column: ``xxhash64(t_i, t_i+1, t_i+2)`` over the index range.
    THE one shingle-hash definition — both near-dup pipelines and the
    committed goldens (scripts/gen_dedup_goldens.py chain replica)
    depend on these exact semantics; edit here or nowhere."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.xxhash64(
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh array<long>) — distinct 3-gram shingle hashes per
    doc with ≥3 tokens, via THE one shingle-hash definition
    (_gram_hashes); docs: (doc_id, text)."""
    toked = docs.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+")).filter(
        F.size("toks") >= 3
    )
    return toked.select("doc_id", F.array_distinct(_gram_hashes()).alias("sh"))


def _postings(docs: DataFrame) -> DataFrame:
    """(doc_id, h, n_sh) distinct shingle postings; ``n_sh`` is the
    doc's distinct-shingle count (the Jaccard denominator's term), so
    a probe verifies pairs from the postings alone.

    ``explode_outer`` of the materialized ``sh``, never a plain
    ``explode``: InferFiltersFromGenerate would substitute the alias
    into an inferred size/isnotnull filter and push it below the
    materializing Project, and ``size(...)`` over the inline hash
    expression would recompute it per posting row — O(shingles²) per
    doc. ``sh`` is never empty (≥3 tokens), so outer adds no rows."""
    return shingle_table(docs).select(
        "doc_id", F.explode_outer("sh").alias("h"), F.size("sh").alias("n_sh")
    )


def _hashed_shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id, lang, len_bucket, n_sh, sh — distinct 3-gram shingles as
    xxhash64 longs (the Jaccard over distinct 64-bit hashes equals the
    string-set Jaccard up to negligible collision probability).

    Shingles hash as the TOKEN TRIPLE directly — ``xxhash64(t0,t1,t2)``
    seed-chains the three strings, so no per-shingle concat string is
    ever built (measured 2.2× at sf1; at 100 TB the skipped allocation
    is ~3× the corpus in transient strings). The committed goldens are
    generated by an independent Python replica of the same chained
    hash (scripts/gen_dedup_goldens.py, pinned bit-for-bit in
    tests/test_llm_ops.py)."""
    corpus = _prefix_corpus(read_table(spark, sf_dir, "documents"))
    toked = corpus.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+"))
    return (
        toked.filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "lang",
            (F.length("text") / 100).cast("int").alias("len_bucket"),
            F.array_distinct(_gram_hashes()).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
    )


@spark_query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({_PREFIX_CORPUS_SQL}),
    sh AS (
      SELECT doc_id, lang,
             CAST(floor(length(text) / 100.0) AS INT) AS len_bucket,
             list_distinct(
               list_transform(
                 range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
                 i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+2]
               )
             ) AS sh
      FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket BETWEEN b.len_bucket - 1 AND b.len_bucket + 1
     AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup via an INVERTED shingle index.

    Scale mechanics: exploding shingles and equi-joining on the shingle
    hash generates candidate pairs proportional to actual shingle
    CO-OCCURRENCE, and the per-pair intersection size falls out of a
    ``groupBy(id_a, id_b).count()`` — no per-pair array scan at all.
    The blocked nested-loop alternative (join on (lang, bucket), then
    ``array_intersect`` per pair) was measured 72 s at sf0.1 vs 2.6 s
    for this plan: blocking yields 2.1 M pairs × O(300)-element
    intersects, while the index join materializes only the ~170 k
    posting collisions that actually share a shingle. Exactness: both
    shingle arrays are distinct, so the co-occurrence count IS
    |a ∩ b|; pairs sharing no shingle (jac = 0) can't pass the 0.5
    threshold, so never materializing them loses nothing. Skew guard:
    a shingle present in d docs emits d(d-1)/2 pairs, so postings whose
    doc-frequency exceeds NGRAM_DF_CAP are dropped from candidate
    generation (stop-shingle removal) — and then ADDED BACK exactly at
    verification: each doc's (small) hot-shingle array rejoins the
    surviving pairs and `|a ∩ b| = cold co-occurrence + |hot_a ∩
    hot_b|`, so reported jaccard values are the true full-set values.
    The only semantic delta vs the uncapped oracle is that a pair whose
    ENTIRE overlap is stop-shingles is not reported — that overlap is
    boilerplate by definition (and the driver corpora have no shingle
    near the cap, so the oracle matches bit-for-bit). The (lang, ±1
    length-bucket) predicate rides along as a residual filter to
    preserve the declared blocking semantics."""
    # posting construction is SHUFFLE-FREE: the 3-gram hashes come from
    # a transform over the token array's index range (xxhash64 of the
    # triple directly — no string concat), then one explode. The round-1
    # implementation used posexplode + window leads because interpreted
    # HOFs looked 4× slower — but that measurement was taken on a
    # 1-task scan (see ensure_parallelism); with the scan actually
    # parallel, the HOF build wins 2× AND drops the window's full
    # shuffle+sort of the posting table, which at 100 TB is the
    # difference between one pass and materializing postings twice.
    corpus = _prefix_corpus(read_table(spark, sf_dir, "documents"))
    toked = corpus.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+")).filter(
        F.size("toks") >= 3
    )
    # persisted: the census decision job materializes the
    # tokenize→explode→distinct build once and the main job reuses it
    # (unpersisted, the build ran twice per call — ADVICE r4)
    # repartition("h") first: distinct, census, and BOTH sides of the
    # candidate self-join below are then h-clustered — one exchange of
    # the posting table instead of four (see dedup_exact_substring's
    # wins build for the mechanics; the self-join's equi-keys include
    # h, so HashPartitioning(h) on the shared cache satisfies both
    # sides with no further shuffle)
    post = _fresh_persist(
        "ngram_post",
        toked.select(
            "doc_id",
            "lang",
            (F.length("text") / 100).cast("int").alias("len_bucket"),
            F.explode(_gram_hashes()).alias("h"),
        )
        .repartition("h")
        .distinct(),  # distinct (doc, shingle) — co-occurrence count = |a ∩ b|
    )
    ns = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # df-cap (see docstring): the stop-shingle census is bounded by the
    # boilerplate vocabulary, not the corpus — broadcastable by nature.
    # The per-doc side tables (ns, hot arrays) grow with the corpus, so
    # no forced broadcast there: AQE picks broadcast when they fit and
    # a shuffled ID join when they don't; an empty census (None) skips
    # the anti-join AND the add-back joins outright (_capped_census).
    hot = _capped_census("ngram_census", post, NGRAM_DF_CAP)
    cold = post if hot is None else post.join(F.broadcast(hot), "h", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len_bucket") - F.col("b.len_bucket")) <= 1),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter_cold"))
        .join(ns.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(ns.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
    )
    if hot is not None:
        pairs, hot_common = _with_hot_addback(
            pairs, _hot_doc_arrays(post.select("doc_id", "h"), hot)
        )
        inter = F.col("inter_cold") + hot_common
    else:
        inter = F.col("inter_cold")
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        pairs.filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


#: The planted-copy id offset doubles as the snapshot boundary for the
#: incremental operator: ids below it are the FROZEN corpus (last
#: release), ids at or above it are the DELTA (this month's crawl).
INCR_DELTA_MIN = 1_000_000


def _incremental_probe(
    index_post: DataFrame,
    delta_post: DataFrame,
    hot: DataFrame | None,
    tau: float = 0.5,
) -> DataFrame:
    """Probe a shingle posting index with a delta's postings and return
    per-new-doc near-dup matches ``(new_id, match_id, jaccard >= tau)``.

    Both posting frames are ``_postings`` rows ``(doc_id, h, n_sh)``
    and must already exclude over-``cap`` keys (the caller anti-joins
    the census once, over the UNION, so the two sides agree on which
    keys are hot); ``n_sh`` stays the FULL distinct-shingle count, so
    the anti-join never shrinks a denominator. ``hot`` is the per-doc
    over-cap array frame (or None when the census is empty) for the
    exact add-back. Shared by the registered query (in-plan index
    build) and scripts/bench_incremental.py (index pre-built as a
    bucketed table, so the probe's plan has NO exchange on the index
    side — the cost-∝-delta demonstration).

    Split into _probe_pair_counts + _finish_probe so a multi-leg caller
    (PostingIndex.probe's crawl-vs-table + crawl-vs-crawl split) can
    union raw pair counts first and verify once."""
    return _finish_probe(
        _probe_pair_counts(index_post, delta_post), hot, tau=tau
    ).orderBy("new_id", "match_id")


def _probe_pair_counts(index_post: DataFrame, delta_post: DataFrame) -> DataFrame:
    """Raw co-posting counts ``(id_a, id_b, na, nb, inter_cold)`` for
    delta-vs-index — the join+aggregate leg of _incremental_probe,
    exposed so callers can union several legs before _finish_probe.
    ``na``/``nb`` are the two docs' ``n_sh``, constant per pair, so
    grouping by them carries the denominators through the pair shuffle
    instead of joining a per-doc count table back in. Legs over
    DISJOINT index doc sets union without deduplication (a pair's
    postings live wholly on one side)."""
    d, o = delta_post.alias("d"), index_post.alias("o")
    return (
        d.join(
            o,
            (F.col("d.h") == F.col("o.h"))
            & (F.col("d.doc_id") != F.col("o.doc_id")),
        )
        .groupBy(
            F.col("d.doc_id").alias("id_a"),
            F.col("o.doc_id").alias("id_b"),
            F.col("d.n_sh").alias("na"),
            F.col("o.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter_cold"))
    )


def _finish_probe(
    pairs: DataFrame,
    hot: DataFrame | None,
    tau: float = 0.5,
) -> DataFrame:
    """Apply the hot add-back and threshold at ``tau`` — the
    post-aggregation half of _incremental_probe. The hot add-back
    commutes with unioning pair legs (it is a per-pair left join), so
    callers may union first."""
    if hot is not None:
        pairs, hot_common = _with_hot_addback(pairs, hot)
        inter = F.col("inter_cold") + hot_common
    else:
        inter = F.col("inter_cold")
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return pairs.filter(jac >= tau).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("match_id"),
        F.round(jac, 6).alias("jaccard"),
    )


@spark_query(
    "dedup_incremental",
    oracle=f"""
    WITH corpus AS ({_PREFIX_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM corpus
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             ))) AS g
      FROM toks WHERE len(tk) >= 3
    ),
    ns AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT d.doc_id AS new_id, o.doc_id AS match_id, COUNT(*) AS i
      FROM sh d JOIN sh o ON d.g = o.g AND o.doc_id != d.doc_id
      WHERE d.doc_id >= 1000000
      GROUP BY 1, 2
    )
    SELECT new_id, match_id,
           ROUND(i * 1.0 / (nn.n + nm.n - i), 6) AS jaccard
    FROM inter
    JOIN ns nn ON nn.doc_id = new_id
    JOIN ns nm ON nm.doc_id = match_id
    WHERE i * 1.0 / (nn.n + nm.n - i) >= 0.5
    ORDER BY new_id, match_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: probe last release's FROZEN
    shingle index with only the DELTA's postings (the production shape
    for monthly Overture-style releases — re-shuffling a 100 TB corpus
    to admit a 1 TB crawl is the thing this operator exists to avoid).
    For each new doc, emits every frozen-or-delta doc whose 3-gram
    Jaccard >= 0.5: one row per (new_id, match_id) ORDERED pair, so a
    delta-delta dup is reported from both sides — the per-new-doc
    admit/reject decision needs no further join.

    Scale mechanics: the posting index is h-clustered ONCE (in
    production: written ``bucketBy(h)`` at release time and read back
    exchange-free — scripts/bench_incremental.py measures exactly that
    plan, probe cost flat in corpus size, linear in delta). The delta
    postings are a partition-local FILTER of the clustered frame here
    (id >= INCR_DELTA_MIN), so the probe join, the per-pair count, and
    the census anti-join all run without re-exchanging the corpus;
    the only pair-proportional shuffle is the groupBy over actual
    posting collisions, which is bounded by the delta's overlap, not
    the corpus. Skew: same NGRAM_DF_CAP census + exact hot add-back
    as dedup_ngram_jaccard (a boilerplate shingle in the frozen corpus
    would otherwise fan every delta doc into its posting list); the
    census is computed over the UNION so both sides agree on hot keys.
    Reference analog: the cache-then-refilter lifecycle (SURVEY §2 S4
    to S6, reference pipeline.py's cache path) lifted to corpus scale —
    the frozen index is the 'cache', the delta the 'refilter' input."""
    corpus = _prefix_corpus(read_table(spark, sf_dir, "documents"))
    # array_distinct already makes (doc, shingle) postings unique
    post = _fresh_persist("incr_post", _postings(corpus).repartition("h"))
    big = _capped_census("incr_census", post, NGRAM_DF_CAP)
    cold = post if big is None else post.join(F.broadcast(big), "h", "left_anti")
    hot = None if big is None else _hot_doc_arrays(post, big)
    return _incremental_probe(
        cold, cold.filter(F.col("doc_id") >= INCR_DELTA_MIN), hot
    )


#: Which path the LAST dedup_lifecycle_probe invocation took —
#: "rebuild" (cold: build + append + stamp) or "probe" (warm: stamp
#: matched, standing release probed). Observability only: the bench
#: artifact records it so rolls are comparable —
#: the two paths cost very different wall time. With the per-process
#: index namespace a fresh bench process is always "rebuild".
LAST_LIFECYCLE_PATH: str | None = None


def _record_lifecycle_path(path: str) -> None:
    global LAST_LIFECYCLE_PATH
    LAST_LIFECYCLE_PATH = path


@spark_query(
    "dedup_lifecycle_probe",
    oracle=f"""
    WITH corpus AS ({_PREFIX_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM corpus
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
             ))) AS g
      FROM toks WHERE len(tk) >= 3
    ),
    ns AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT d.doc_id AS new_id, o.doc_id AS match_id, COUNT(*) AS i
      FROM sh d JOIN sh o ON d.g = o.g AND o.doc_id != d.doc_id
      WHERE d.doc_id >= {INCR_DELTA_MIN} AND d.doc_id % 2 = 1
      GROUP BY 1, 2
    )
    SELECT new_id, match_id,
           ROUND(i * 1.0 / (nn.n + nm.n - i), 6) AS jaccard
    FROM inter
    JOIN ns nn ON nn.doc_id = new_id
    JOIN ns nm ON nm.doc_id = match_id
    WHERE i * 1.0 / (nn.n + nm.n - i) >= 0.5
    ORDER BY new_id, match_id
    """,
)
def dedup_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lifecycle API's TABLE-FED probe under the driver gate: build
    a PostingIndex release from the frozen
    half of the prefix corpus, APPEND the even-id half of the crawl as
    last month's admitted delta, then probe this month's (odd-id)
    crawl — returning exactly dedup_incremental's pair semantics for
    the odd crawl against everything else.

    What this attests that ``dedup_incremental`` does not: that query
    feeds the frozen side in-plan; here the index side is three
    BUCKETED TABLES spanning a build AND an append, so the driver row
    covers the count-sidecar merge (stored rows summed partition-local
    + broadcast delta counts), the per-doc shingle counts the stored
    postings carry, the admission guard, and the two-leg probe split
    (crawl-vs-table + crawl-bounded self-probe) that keeps the corpus
    exchange-free (lifecycle.PendingProbe.finish).

    Oracle: the dedup_incremental golden recipe over the SAME corpus
    with the probe restricted to odd delta ids (the crawl leg); the
    appended even ids sit on the match side like any frozen doc, which
    is precisely the append-equals-rebuild property the API pins.

    Reference analog: cache-then-refilter lifecycle (SURVEY §2 S4-S6)
    — build = cache write, append = cache refresh, probe = refilter.

    Release maintenance is IDEMPOTENT (the production monthly-job
    shape): the corpus fingerprint is compared against the stored
    release stamp and the build+append are SKIPPED when the release is
    already current — re-invoking the query (the bench's warm runs,
    a retried orchestration) probes the standing release instead of
    rebuilding a corpus-sized index that hasn't changed. The stamp is
    written only after both generations land, so a half-built release
    is never trusted.

    The WHOLE warm invocation is TWO driver actions: the corpus
    fingerprint, the probe's admission guard, and its hot-skip bound
    all ride ONE tagged-union collect (PostingIndex.prepare_probe's
    extension point), the stored stamp is a driver-side sidecar-file
    read (release_stamp, zero jobs), and the second action is the probe
    itself. ``documents`` is read once, for both the corpus and the
    fingerprint. Under AQE the two actions run as 17 Spark jobs on the
    perfbench corpus_ops workload when the probe's result is written
    out (tests/test_lifecycle_api.py pins the count on the test data).
    On a stale stamp the collected pre-flight is discarded — its guard
    verdict would be against the outgoing index — and the rebuild
    takes the normal cold path. The
    fingerprint deliberately hashes metadata columns only (doc_id,
    n_chars, source): that stamp is CONTENT-BLIND (corpus_fingerprint's
    docstring has the full contract), valid here because the driver
    corpora are immutable snapshot tables where (id, length, source)
    uniquely tracks content; a pipeline whose docs can mutate in place
    includes "text" in the column list (the README production example
    does)."""
    from overturelink_data_pipeline_spark.operators.lifecycle import (
        PostingIndex,
        fingerprint_leg,
        process_index_name,
        release_stamp,
        write_release_stamp,
    )

    # one read: every parquet read runs its own schema job
    docs = read_table(spark, sf_dir, "documents")
    corpus = _prefix_corpus(docs)
    delta = F.col("doc_id") >= INCR_DELTA_MIN
    # a per-process index namespace: under one fixed name on the shared
    # metastore-less warehouse, one process's rebuild would delete the
    # part files another live process is scanning. Naming the index
    # also removes the indexes of processes that are gone.
    idx = PostingIndex(spark, process_index_name(spark, "dlp_index"))
    crawl = corpus.filter(delta & (F.col("doc_id") % 2 == 1))
    fp_cols = ("doc_id", "n_chars", "source")
    fp = None
    stored = release_stamp(spark, idx.name)
    if idx.exists() and stored is not None:
        pending = idx.prepare_probe(crawl)
        # the fingerprint leg joins the probe pre-flight —
        # lifecycle.fingerprint_leg, the one implementation of the
        # stamp aggregate and its rendering (format parity with the
        # Python side pinned by
        # tests/test_round10_ops.py::test_fused_stamp_leg_format)
        rows = (
            pending.checks.unionByName(fingerprint_leg(docs, fp_cols)).collect()
        )
        fp = next((r["id"] for r in rows if r["kind"] == "fp"), None)
        if fp is not None and fp == stored:
            _record_lifecycle_path("probe")
            return pending.finish(rows)
    _record_lifecycle_path("rebuild")
    idx.build(corpus.filter(~delta))
    idx.append(corpus.filter(delta & (F.col("doc_id") % 2 == 0)))
    # a stale-stamp rebuild already paid the fingerprint scan in the
    # fused pre-flight — reuse it. On the fully COLD path (no standing
    # release) the fingerprint rides the probe's own pre-flight collect
    # instead of a separate full-corpus aggregate job.
    pending = idx.prepare_probe(crawl)
    if fp is None:
        rows = pending.checks.unionByName(fingerprint_leg(docs, fp_cols)).collect()
        fp = next(r["id"] for r in rows if r["kind"] == "fp")
    else:
        rows = pending.checks.collect()
    # stamp written LAST (after every index write) — the durability
    # contract; finish() only composes the result plan, no action
    write_release_stamp(spark, idx.name, fp)
    return pending.finish(rows)


def _over_cap_keys(postings: DataFrame, cap: int) -> DataFrame:
    """Posting keys whose doc-frequency exceeds ``cap`` — bounded by
    the boilerplate vocabulary, not the corpus, hence broadcastable
    (the one frame in this family that IS provably small)."""
    return (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select("h")
    )


def _capped_census(key: str, postings: DataFrame, cap: int) -> DataFrame | None:
    """Materialize the over-cap census ONCE — persisted (it is bounded
    by the boilerplate vocabulary, so tiny by construction) — and
    return it, or ``None`` when it is empty: the natural-corpus case.

    This is the round-5 shave of the branch-deciding job (VERDICT r4
    ask #4): the census used to be an UNPERSISTED frame, so the
    driver-side ``head(1)`` ran the full posting aggregation once to
    decide the branch and the main job then re-ran the SAME aggregation
    inside its broadcast-anti-join subtree. Persisting the (tiny)
    census means the decision job's aggregation is the only one, and —
    the larger saving — a ``None`` return lets callers skip the
    anti-join ENTIRELY, dropping the census subtree + broadcast
    exchange + anti-join scan from the main job on every natural
    corpus. Exactness is unaffected: an anti-join against an empty set
    is the identity, and the add-back correction is only defined for
    the non-empty case anyway."""
    big = _fresh_persist(key, _over_cap_keys(postings, cap))
    return big if big.head(1) else None


def _hot_doc_arrays(postings: DataFrame, over_cap: DataFrame) -> DataFrame:
    """Per-doc arrays of the over-cap keys that doc carries. One row
    per AFFECTED document — grows with the boilerplate POPULATION, so
    never force-broadcast it (see _with_hot_addback)."""
    return (
        postings.join(F.broadcast(over_cap), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hot"))
    )


def _with_hot_addback(pairs: DataFrame, hot_arrays: DataFrame):
    """Left-join each pair side's hot-key array and return
    ``(joined_df, hot_common_column)`` where the column is
    ``|hot_a ∩ hot_b|`` — the exact correction that makes capped
    counts equal the uncapped full-set values (the
    dedup_ngram_jaccard recipe, now THE one implementation).

    The joins are deliberately UNHINTED: hot_arrays has one row per
    boilerplate-carrying document — corpus-grown, so a forced
    broadcast would OOM exactly when the cap fires. AQE broadcasts
    while it fits and falls back to a shuffled ID join when it
    doesn't. Callers short-circuit past this join entirely when
    ``_over_cap_keys`` came back empty (the natural-corpus case), so
    the common plan never pays it."""
    joined = pairs.join(
        hot_arrays.select(
            F.col("doc_id").alias("id_a"), F.col("hot").alias("hot_a")
        ),
        "id_a",
        "left",
    ).join(
        hot_arrays.select(
            F.col("doc_id").alias("id_b"), F.col("hot").alias("hot_b")
        ),
        "id_b",
        "left",
    )
    hot_common = F.when(
        F.col("hot_a").isNull() | F.col("hot_b").isNull(), F.lit(0)
    ).otherwise(F.size(F.array_intersect("hot_a", "hot_b")))
    return joined, hot_common


#: ``_posting_pairs`` default for ``over_cap``: compute the census
#: inside the plan (the standalone/test path). Distinct from ``None``,
#: which since round 5 means "census already checked and EMPTY — skip
#: the anti-join outright" (what ``_capped_census`` returns on every
#: natural corpus).
_CENSUS_UNCHECKED = object()


def _posting_pairs(
    postings: DataFrame,
    cap: int,
    payload: str | None = None,
    over_cap=_CENSUS_UNCHECKED,
) -> DataFrame:
    """Candidate pairs from an inverted index of (doc_id, h) postings:
    census FIRST (map-side-combined count, fixed state per key — the
    dedup.py rule: never collect a hot bucket), broadcast anti-join of
    over-``cap`` keys, THEN a bounded collect_list and an in-codegen
    pair fan-out over each sorted posting list. Emitting pairs from
    posting LISTS instead of a self-join halves the exchanges of the
    posting table (measured 3.5 → 1.3 s at sf1 on
    dedup_exact_substring: the self-join re-shuffled both aliases; the
    list explode is one shuffle and the per-list fan-out is a
    transform over ≤ cap ids). Returns one row per unordered pair
    (id_a < id_b) per shared posting key — aggregate downstream.

    ``payload`` names an extra per-posting column to RIDE THE PAIRS
    (as ``pa``/``pb``): a downstream per-doc attribute (e.g. shingle
    count) then needs no post-aggregation join back — at tens of
    millions of candidate rows those joins cost more than the fan-out
    itself. ``over_cap`` passes a precomputed census (from
    ``_capped_census``) so callers that also need the hot-key set
    don't pay the aggregation twice; passing ``None`` declares the
    census KNOWN-EMPTY and skips the anti-join (identity against an
    empty set) — the natural-corpus fast path."""
    if over_cap is _CENSUS_UNCHECKED:
        over_cap = _over_cap_keys(postings, cap)
    cold = (
        postings
        if over_cap is None
        else postings.join(F.broadcast(over_cap), "h", "left_anti")
    )
    if payload is None:
        member = F.col("doc_id")
        out = ["p.x AS id_a", "p.y AS id_b"]
    else:
        member = F.struct(F.col("doc_id"), F.col(payload).alias("pl"))
        out = [
            "p.x.doc_id AS id_a",
            "p.x.pl AS pa",
            "p.y.doc_id AS id_b",
            "p.y.pl AS pb",
        ]
    posts = (
        cold.groupBy("h")
        .agg(F.collect_list(member).alias("ids"))
        .filter(F.size("ids") >= 2)
        # array_sort on structs orders by the first field (doc_id), so
        # pair order stays id_a < id_b with or without payload
        .select(F.array_sort("ids").alias("a"))
    )
    pair_expr = F.expr(
        "flatten(transform(a, (x, i) -> "
        "transform(slice(a, i + 2, size(a) - i - 1), "
        "y -> struct(x AS x, y AS y))))"
    )
    return posts.select(F.explode(pair_expr).alias("p")).selectExpr(*out)


# ---------------------------------------------------------------------------
# Exact-substring dedup (verbatim-run detection, the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" protocol:
# any two documents sharing a long-enough VERBATIM token run are
# near-dups regardless of how different the rest of their text is —
# the case Jaccard misses when one document merely quotes another).
# ---------------------------------------------------------------------------

#: Verbatim-run window width in tokens (the paper uses 50 BPE tokens;
#: 15 whitespace tokens fits the ~60-token synthetic docs).
SUBSTR_W = 15
#: Every SUBSTR_MODULUS-th doc donates a QUOTING copy: unique filler
#: around a 20-token verbatim slice of the original.
SUBSTR_MODULUS = 11
#: Windows whose doc-frequency exceeds this are dropped from candidate
#: generation (the NGRAM_DF_CAP recipe): natural 15-token runs are
#: near-unique (df 1-2), so the cap only fires on pathological
#: boilerplate, where a shared window IS non-discriminative.
SUBSTR_DF_CAP = int(os.environ.get("SPARK_GRAFT_SUBSTR_DF_CAP", "64"))

_SUBSTR_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           'zq' || CAST(doc_id AS VARCHAR) || 'pre ' ||
           array_to_string(string_split_regex(trim(text), '\\s+')[6:25], ' ') ||
           ' zq' || CAST(doc_id AS VARCHAR) || 'post'
    FROM documents WHERE doc_id % {SUBSTR_MODULUS} = 0
"""


@spark_query(
    "dedup_exact_substring",
    oracle=f"""
    WITH corpus AS ({_SUBSTR_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus
    ),
    wins AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - {SUBSTR_W - 1}, 0)),
                 i -> md5(array_to_string(t[i:i + {SUBSTR_W - 1}], ' ')))) AS h
        FROM toks) u
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM wins a JOIN wins b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY id_a, id_b
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring near-dup: any pair of documents sharing a
    verbatim SUBSTR_W-token run, found via an inverted index over
    rolling window hashes — md5 of the space-joined window, the one
    hash both engines compute identically.

    Scale mechanics are dedup_ngram_jaccard's: window hashes come from
    a transform over the token array's index range (no window function,
    no per-doc shuffle), candidates from an equi-join on the hash —
    pair volume tracks actual window CO-OCCURRENCE — and n_shared falls
    out of groupBy(id_a, id_b).count() because per-doc windows are
    DISTINCT'd first. The df-cap drops postings shared by more than
    SUBSTR_DF_CAP docs (quadratic-candidate boilerplate); natural
    15-token windows are near-unique, so the cap never fires on the
    oracle'd corpora and the uncapped oracle matches bit-for-bit.

    Vs the suffix-array formulation of the original protocol: a
    distributed suffix array costs a full sort of the corpus per
    byte-offset; rolling windows at stride 1 find exactly the runs of
    length >= SUBSTR_W at inverted-index cost, which is the standard
    large-scale approximation (every run of length >= W contains a
    W-window, so recall at the declared threshold is exact)."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    toks = F.split(F.trim(F.col("text")), "\\s+")
    quoted = F.concat(
        F.lit("zq"),
        F.col("doc_id").cast("string"),
        F.lit("pre "),
        F.array_join(F.slice(toks, 6, 20), " "),
        F.lit(" zq"),
        F.col("doc_id").cast("string"),
        F.lit("post"),
    )
    corpus = with_planted_copies(docs, SUBSTR_MODULUS, mangle={"text": quoted})
    t = corpus.select(
        "doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("t")
    )
    # explode the index range FIRST, hash AFTER: a hash inside a
    # transform() lambda is interpreted per element (measured 4.1 s at
    # sf1); as a post-explode projection it runs in whole-stage
    # codegen (1.6 s). Same trick as the ngram posting build.
    idx = F.expr(
        f"CASE WHEN size(t) >= {SUBSTR_W} "
        f"THEN sequence(1, size(t) - {SUBSTR_W - 1}) "
        "ELSE CAST(array() AS array<int>) END"
    )
    # the window key is xxhash64 SEED-CHAINED over the 15 tokens (the
    # _gram_hashes recipe at window width): equal windows ⟺ equal
    # token tuples ⟺ equal hashes, so pair generation and n_shared are
    # unchanged vs hashing the space-joined string — but no ~115-byte
    # window string is ever built, no crypto digest runs, and the
    # posting exchange ships 8-byte longs instead of 33-char md5 hex
    # (round-6 shave: 1.7 → 1.0 s at sf1; at 100 TB the skipped
    # allocation is ~8× the corpus in transient strings). The ORACLE
    # hashes md5 strings — fine: any injective-on-windows key yields
    # identical (id_a, id_b, n_shared) rows, which is what the driver
    # compares.
    win_hash = F.expr(
        "xxhash64(" + ", ".join(f"element_at(t, i + {k})" for k in range(SUBSTR_W)) + ")"
    )
    # ONE exchange for the whole posting pipeline (round-5 shave): an
    # explicit hash-repartition on h up front means the per-doc
    # distinct (clustered-by-(doc_id,h) is satisfied by
    # HashPartitioning(h)), the df window, AND the groupBy(h)
    # collect_list in _posting_pairs all run partition-LOCAL — the
    # unforced plan exchanged the 3.3 M-row posting table three times
    # (dropDuplicates on (doc,h), census on h, collect on h). Skewed h
    # (boilerplate) lands one partition, but the local distinct is a
    # spillable hash agg — bounded memory, unlike a collect of the hot
    # bucket.
    #
    # Round-6 shave (VERDICT r5 ask #2): the plan is BRANCH-FREE — df
    # per posting comes from a partition-local count window over h
    # (no exchange: HashPartitioning(h) satisfies the window's
    # clustering) instead of a separate driver-side census-decision
    # job, so the whole query is ONE job where round 5 ran two. The
    # over-cap handling stays in-plan permanently: cold postings
    # (df <= cap) feed the pair fan-out, hot postings (df > cap) feed
    # the per-doc hot arrays for the exact add-back. On natural
    # corpora the hot side materializes EMPTY and AQE's
    # empty-relation propagation deletes the add-back joins at
    # runtime — the executed plan collapses to the pure cold count,
    # without any driver round-trip to decide it.
    # NOT persisted (round-6 measurement): both consumers — the cold
    # fan-out and the hot arrays — share the one Exchange(h) via
    # shuffle reuse, and recomputing the partition-local
    # distinct+window twice off that shuffle costs less than
    # serializing 3.3 M cached rows did (persist 1.48 s vs 0.72 s
    # in-session at sf1 once the posting key became an 8-byte long).
    wins = (
        t.select("doc_id", "t", F.explode(idx).alias("i"))
        .select("doc_id", win_hash.alias("h"))
        .repartition("h")
        .dropDuplicates(["doc_id", "h"])
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
    )
    # hot-window ADD-BACK (the dedup_ngram_jaccard recipe, via the
    # shared _with_hot_addback): windows over the df-cap are excluded
    # from candidate GENERATION, then re-counted exactly at the pair
    # stage, so reported n_shared is the TRUE full-set value even when
    # the cap fires; the only residual trade is a pair whose ENTIRE
    # overlap is over-cap boilerplate (non-discriminative by
    # definition) — such a pair has no cold co-occurrence row for the
    # add-back to land on, exactly as in the census formulation.
    cold = (
        _posting_pairs(
            wins.filter(F.col("df") <= SUBSTR_DF_CAP).drop("df"),
            SUBSTR_DF_CAP,
            over_cap=None,
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c_cold"))
    )
    hot_arrays = (
        wins.filter(F.col("df") > SUBSTR_DF_CAP)
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hot"))
    )
    joined, hot_common = _with_hot_addback(cold, hot_arrays)
    return joined.select(
        "id_a",
        "id_b",
        (F.col("c_cold") + hot_common).cast("bigint").alias("n_shared"),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Shingle CONTAINMENT (asymmetric near-dup: fragment ⊂ document)
# ---------------------------------------------------------------------------

#: Containment threshold: |S(A) ∩ S(B)| / min(|S(A)|, |S(B)|).
CONTAIN_TAU = 0.8
#: Every CONTAIN_MODULUS-th doc donates a FRAGMENT copy (middle 40% of
#: its tokens, id + 1e6): containment of fragment in original ≈ 1
#: while Jaccard ≈ 0.4 — under dedup_ngram_jaccard's 0.5 bar, which is
#: exactly the subsumption case Jaccard misses.
CONTAIN_MODULUS = 17

_CONTAIN_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(
             t[CAST(floor(len(t) * 0.3) AS INT) + 1 :
               CAST(floor(len(t) * 0.3) AS INT) + CAST(floor(len(t) * 0.4) AS INT)],
             ' ')
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM documents)
    WHERE doc_id % {CONTAIN_MODULUS} = 0
"""


@spark_query(
    "text_minhash_containment",
    oracle=f"""
    WITH corpus AS ({_CONTAIN_CORPUS_SQL}),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id, h FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> md5(array_to_string(t[i:i + 2], ' ')))) AS h
        FROM toks) u
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(c * 1.0 / LEAST(sa.n, sb.n), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 1.0 / LEAST(sa.n, sb.n) >= {CONTAIN_TAU}
    ORDER BY id_a, id_b
    """,
)
def text_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT dedup: pairs where the smaller
    document's 3-token shingle set is ≥ CONTAIN_TAU contained in the
    larger's — the quote/fragment/subsumption case where Jaccard is
    diluted below its threshold by the size imbalance (Broder's
    containment measure, the source of the "a tweet quoting an article
    is a dup of it" rule real curation pipelines apply).

    Same inverted-index mechanics as dedup_ngram_jaccard — candidates
    from shingle co-occurrence, |A ∩ B| from groupBy().count() over
    DISTINCT'd per-doc shingles, df-cap guard riding the same
    NGRAM_DF_CAP — with min-size instead of union-size in the
    denominator. md5 string shingles (not xxhash64 triples) because
    this query is oracle'd DIRECTLY against DuckDB rather than through
    golden parquet."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    toks0 = F.split(F.trim(F.col("text")), "\\s+")
    frag_start = F.floor(F.size(toks0) * 0.3).cast("int") + 1
    frag_len = F.floor(F.size(toks0) * 0.4).cast("int")
    fragment = F.array_join(F.slice(toks0, frag_start, frag_len), " ")
    corpus = with_planted_copies(
        docs, CONTAIN_MODULUS, mangle={"text": fragment}
    )
    t = corpus.select(
        "doc_id", F.split(F.trim(F.col("text")), "\\s+").alias("t")
    )
    # explode-then-project (codegen md5), not a transform() lambda —
    # see dedup_exact_substring for the measured difference
    idx = F.expr(
        "CASE WHEN size(t) >= 3 THEN sequence(1, size(t) - 2) "
        "ELSE CAST(array() AS array<int>) END"
    )
    # repartition("h") first — the per-doc distinct AND the census run
    # partition-local off one exchange (dedup_exact_substring's wins
    # build explains why); the doc_id size window below still re-keys,
    # so this trims one of the posting table's exchanges, not two
    sh = _fresh_persist(
        "contain_sh",
        t.select("doc_id", "t", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            F.expr("md5(array_join(slice(t, i, 3), ' '))").alias("h"),
        )
        .repartition("h")
        .dropDuplicates(["doc_id", "h"]),
    )
    # each doc's shingle count rides the postings (window over the
    # persisted frame — no separate sizes join against the ~35 M
    # candidate pairs the sf3 profile measured)
    from pyspark.sql.window import Window

    sized = sh.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    big = _capped_census("contain_census", sh, NGRAM_DF_CAP)
    inter = (
        _posting_pairs(sized, NGRAM_DF_CAP, payload="n", over_cap=big)
        .groupBy("id_a", "pa", "id_b", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # hot-shingle add-back via the shared helpers (see
    # dedup_exact_substring): denominators already count hot shingles
    # (sizes window over the PRE-cap postings), so the intersection
    # must too or capped corpora under-report containment; the
    # anti-join and add-back joins are skipped outright when the
    # census is empty (None) — every oracle'd corpus.
    if big is not None:
        joined, hot_common = _with_hot_addback(inter, _hot_doc_arrays(sh, big))
        full_c = F.col("c") + hot_common
    else:
        joined, full_c = inter, F.col("c")
    contain = full_c / F.least(F.col("pa"), F.col("pb"))
    return (
        joined.filter(contain >= CONTAIN_TAU)
        .select("id_a", "id_b", F.round(contain, 6).alias("containment"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 32
N_BANDS = 8  # rows-per-band = 4 → catches jaccard ≳ 0.5 w.h.p.

#: Committed golden-pair parquet (scripts/gen_dedup_goldens.py):
#: candidate-pair sets frozen by an INDEPENDENT pure-Python
#: re-implementation (functions/xxh64.py replicates F.xxhash64
#: bit-for-bit; pinned by tests/test_llm_ops.py), keyed by
#: corpus_key = SUM(n_chars) of `documents` so one static oracle
#: string picks the right slice at any SF.
from pathlib import Path as _Path  # noqa: E402

_GOLDEN = _Path(__file__).resolve().parents[2] / "fixtures" / "dedup_golden"
_MH_GOLD = str(_GOLDEN / "minhash_pairs.parquet")
_SH_GOLD = str(_GOLDEN / "simhash_pairs.parquet")


def minhash_signatures_agg(post: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """doc_id → sig (array<long>) from an exploded posting table
    (doc_id, h): one codegen'd aggregation computes all n mins — the
    scale path (the per-row higher-order variant is interpreted)."""
    # ONE F.expr string: the Column-algebra version built the same
    # tree through ~200 py4j round-trips of driver latency per
    # invocation (the dedup_simhash r13 measurement: such loops cost
    # 0.6-1.0 s each); an array of aggregates is rewritten by Catalyst
    # to the identical aggregate+project plan. Seeds stay INT literals
    # (`{i}`), matching F.lit(int)'s type — xxhash64 hashes INT and
    # BIGINT seeds differently, and the goldens pin the INT form.
    sig = F.expr(
        "array("
        + ", ".join(f"min(xxhash64({i}, h))" for i in range(n_hashes))
        + ")"
    )
    return post.groupBy("doc_id").agg(sig.alias("sig"))


def _band_table(sig: DataFrame) -> DataFrame:
    """doc_id → (band, bucket) LSH rows: N_BANDS hashes of
    rows-per-band signature slices. THE one banding definition — both
    LSH operators (dedup_minhash_lsh, dedup_incremental_minhash) must
    stay bit-identical to the SAME golden parquet, and the committed
    goldens replicate exactly these semantics
    (scripts/gen_dedup_goldens.py); edit here or nowhere."""
    rows_per_band = N_HASHES // N_BANDS
    # one expr string, not N_BANDS hash(slice()) Column builds — same
    # py4j-latency rationale as minhash_signatures_agg above
    buckets = F.expr(
        "array("
        + ", ".join(
            f"hash(slice(sig, {i * rows_per_band + 1}, {rows_per_band}))"
            for i in range(N_BANDS)
        )
        + ")"
    )
    return sig.select("doc_id", F.posexplode(buckets).alias("band", "bucket"))


def _band_census(bands: DataFrame) -> DataFrame:
    """Over-cap (band, bucket) keys. Skew guard: a bucket with d
    members emits d(d-1)/2 candidates, and boilerplate-dominated docs
    collapse whole bands into ONE bucket. Hot buckets are counted with
    a map-side-combined agg (fixed state per key — never a
    collect_list that would OOM on the hot bucket itself), then
    anti-joined away broadcast-side; the over-cap list is bounded by
    the boilerplate population, not the corpus. A skipped bucket is
    non-discriminative by definition — the standard LSH bucket-cap
    recall trade, mirrored in the golden replica."""
    return (
        bands.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > BAND_BUCKET_CAP)
        .select("band", "bucket")
    )


def _jaccard_verify(
    cand: DataFrame,
    sh: DataFrame,
    left: str,
    right: str,
    tau: float = 0.5,
    ordered: bool = True,
) -> DataFrame:
    """Exact-jaccard verification of candidate id pairs against the
    persisted shingle table: the shingle arrays join back AFTER
    candidate dedup, so the wide payload never rides the
    (band, bucket) exchange. Shared by both LSH operators for the
    same single-definition reason as _band_table.

    ``ordered=False`` skips the deterministic output sort for
    INTERNAL consumers (dedup_clusters / graph_pagerank_dupes) that
    immediately explode the pairs into an edge cache: a global
    orderBy compiles to a rangepartitioning Exchange whose sampling
    pass re-executes the whole verify segment (both shingle-cache
    broadcast joins ran TWICE in the r13 stage profile), plus a
    32-partition Sort — all discarded one operator later by the
    round-robin repartition(8). Registered queries keep the sort."""
    verif = (
        cand.join(sh.withColumnRenamed("doc_id", left), left)
        .withColumnRenamed("sh", "sh_a")
        .join(sh.withColumnRenamed("doc_id", right), right)
        .withColumnRenamed("sh", "sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    out = verif.filter(jac >= tau).select(
        left, right, F.round(jac, 6).alias("jaccard")
    )
    return out.orderBy(left, right) if ordered else out


@spark_query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH corpus AS ({_PREFIX_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
                 i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+2]
               )
             ) AS sh
      FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
    ),
    golden AS (
      SELECT id_a, id_b FROM read_parquet('{_MH_GOLD}')
      WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)
    )
    SELECT g.id_a, g.id_b,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM golden g
    JOIN sh a ON a.doc_id = g.id_a
    JOIN sh b ON b.doc_id = g.id_b
    ORDER BY id_a, id_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → 32-hash signature → 8 bands →
    bucket join on (band, band-hash) → exact-Jaccard verification of
    candidates only.

    Oracle: the PAIR SET is frozen in committed golden parquet built by
    an independent pure-Python MinHash/LSH (scripts/gen_dedup_goldens.py
    — xxh64 replica pinned against F.xxhash64), while the jaccard
    VALUES are recomputed from raw text by DuckDB string-shingle sets —
    so both the banding behavior and the verification arithmetic are
    hash-checked, neither against itself. Recall additionally pinned
    against brute-force Jaccard in tests/test_llm_ops.py."""
    return _minhash_verified_pairs(spark, sf_dir)


def _minhash_verified_pairs(
    spark: SparkSession, sf_dir: str, ordered: bool = True
) -> DataFrame:
    """The dedup_minhash_lsh pipeline body, parameterized on the final
    deterministic sort so the graph consumers (dedup_clusters /
    graph_pagerank_dupes) can take the verified pair SET without the
    rangepartitioning exchange + verify-segment sampling re-execution
    the sort costs (see _jaccard_verify). Same rows either way."""
    # the shingle table feeds three plan legs (signatures + both sides
    # of candidate verification); persist it so the interpreted
    # shingling transform runs once, not three times (at 100 TB this is
    # a checkpointed intermediate table for the same reason)
    sh = _fresh_persist(
        "minhash_shingles",
        _hashed_shingle_table(spark, sf_dir).select("doc_id", "sh"),
        StorageLevel.MEMORY_AND_DISK,
    )
    # no eager sh.count() here: _lsh_candidates' bands.count() (r13)
    # materializes this cache as a byproduct of building the band
    # table, and the verify legs below then read the populated cache —
    # an extra count job was measured neutral once bands was cached
    post = sh.select("doc_id", F.explode("sh").alias("h"))
    # NOT persisted (unlike simhash's sigs — tried in r5 and reverted,
    # measured 2.48 → 3.09 s at sf1): both self-join sides and the
    # census broadcast subtree here are IDENTICAL plans, so
    # ReuseExchange already computes the signature pipeline once
    # inside the single job; a persist only adds a job boundary and a
    # cache write. Simhash differs because its vote agg feeds legs
    # with non-identical exchanges.
    # banding lives in _lsh_candidates. Notes that still govern its
    # shape: the census anti-join is kept IN-PLAN (a driver-side head(1)
    # short-circuit was tried in r5 and reverted — without a cached
    # upstream it runs the whole signature pipeline as its own job),
    # and candidate pairs carry IDs only through the band shuffle — the
    # shingle arrays join back AFTER dedup, so the wide payload never
    # rides the (band, bucket) exchange.
    cand = _lsh_candidates(post)
    return _jaccard_verify(cand, sh, "id_a", "id_b", ordered=ordered)


def _lsh_candidates(post: DataFrame) -> DataFrame:
    """Raw band-bucket candidate pairs (id_a < id_b, deduped) — the
    banding stage of dedup_minhash_lsh.

    The band table is persisted and materialized BEFORE it branches
    (r13): it feeds the census aggregate plus candidate generation,
    and the un-persisted shape duplicated the whole signature
    pipeline statically (plan audit, r13). Cached, the signature
    pipeline runs once and the legs read (doc_id, band, bucket) rows
    — 4 ints/doc, the same bounded-intermediate class as simhash's
    cached ``sigs``.

    r14 (guide §3.4, the _posting_pairs/mm_dedup_phash recipe):
    candidate pairs fan out from per-bucket sorted doc-id LISTS
    instead of the bucket SELF-JOIN — one exchange of the cached band
    rows (the groupBy) replaces two self-join input exchanges plus a
    third cache scan, and the census becomes a driver-side head(1) on
    a persisted (tiny, boilerplate-bounded) over-cap frame: every
    natural corpus (census empty at all driver SFs) then skips the
    anti-join subtree outright. The census STAYS a fixed-state count
    aggregate computed before any collect_list (the dedup.py rule:
    never collect a hot bucket — the cold side's lists are ≤
    BAND_BUCKET_CAP by construction). Pair set is IDENTICAL: same
    (band, bucket) co-membership, same cap filter, same dedup —
    pinned by the golden parquet."""
    sig = minhash_signatures_agg(post)
    bands = _fresh_persist("minhash_bands", _band_table(sig))
    bands.count()
    big = _fresh_persist("minhash_band_census", _band_census(bands))
    cold = (
        bands.join(F.broadcast(big), ["band", "bucket"], "left_anti")
        if big.head(1)
        else bands
    )
    posts = (
        cold.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.col("ids").alias("a"))
    )
    pair_expr = F.expr(
        "flatten(transform(a, (x, i) -> "
        "transform(slice(a, i + 2, size(a) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        posts.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )



@spark_query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH corpus AS ({_PREFIX_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             list_distinct(
               list_transform(
                 range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
                 i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                      string_split_regex(trim(text), '\\s+')[i+2]
               )
             ) AS sh
      FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
    ),
    golden AS (
      SELECT id_a, id_b FROM read_parquet('{_MH_GOLD}')
      WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)
    ),
    ordered AS (
      SELECT id_a AS new_id, id_b AS match_id FROM golden
      WHERE id_a >= {INCR_DELTA_MIN}
      UNION ALL
      SELECT id_b AS new_id, id_a AS match_id FROM golden
      WHERE id_b >= {INCR_DELTA_MIN}
    )
    SELECT o.new_id, o.match_id,
           ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM ordered o
    JOIN sh a ON a.doc_id = o.new_id
    JOIN sh b ON b.doc_id = o.match_id
    ORDER BY new_id, match_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH: a new crawl band-probes the FROZEN
    release's LSH table at SIGNATURE level — the near-dup half of the
    production incremental-dedup story (dedup_incremental covers the
    exact-shingle half). For each delta doc, emits every frozen-or-
    delta doc that shares a band bucket AND verifies at 3-gram
    Jaccard >= 0.5 — one row per ORDERED (new_id, match_id) pair, so
    delta-delta dups are reported from both sides and the per-new-doc
    admit decision needs no further join.

    Scale mechanics: the band table is (band, bucket)-clustered ONCE
    (here an explicit repartition + persist; in production: written
    ``bucketBy(band, bucket)`` at release time and read back
    exchange-free — scripts/bench_incremental.py --minhash measures
    exactly that plan), so the bucket-cap census, the delta filter
    (a partition-local filter of the clustered frame), and the probe
    join all run WITHOUT re-exchanging the corpus; only the delta's
    signatures move at probe time, making monthly near-dup admission
    cost ∝ delta, not corpus. Hot-bucket skew rides the same
    BAND_BUCKET_CAP census as dedup_minhash_lsh (a boilerplate-
    collapsed band bucket would otherwise fan every delta doc into
    it), mirrored in the golden replica. Oracle: the candidate/verify
    semantics are frozen in the SAME golden parquet as
    dedup_minhash_lsh (scripts/gen_dedup_goldens.py, independent
    pure-Python xxh64/banding replica) restricted to delta-involving
    pairs and ordered delta-first — band-probing a frozen index with
    a delta returns exactly the delta-involving subset of the full
    LSH pair set, so one golden file pins both operators against the
    same independent path. Jaccard VALUES recomputed from raw text by
    DuckDB string-shingle sets (values never checked against
    themselves). Reference analog: SURVEY §2 S4-S6's cache-then-
    refilter lifecycle at signature level."""
    sh = _fresh_persist(
        "incr_mh_shingles",
        _hashed_shingle_table(spark, sf_dir).select("doc_id", "sh"),
        StorageLevel.MEMORY_AND_DISK,
    )
    post = sh.select("doc_id", F.explode("sh").alias("h"))
    sig = minhash_signatures_agg(post)
    # the frozen LSH table stand-in: ONE exchange on the band key,
    # persisted — census, delta filter, and both probe-join sides all
    # consume it partition-local (the dedup_incremental posting
    # recipe lifted to signature level)
    bands = _fresh_persist(
        "incr_mh_bands", _band_table(sig).repartition("band", "bucket")
    )
    big = _fresh_persist("incr_mh_census", _band_census(bands))
    kept = (
        bands.join(F.broadcast(big), ["band", "bucket"], "left_anti")
        if big.head(1)
        else bands
    )
    d, o = kept.filter(F.col("doc_id") >= INCR_DELTA_MIN).alias("d"), kept.alias("o")
    cand = (
        d.join(
            o,
            (F.col("d.band") == F.col("o.band"))
            & (F.col("d.bucket") == F.col("o.bucket"))
            & (F.col("d.doc_id") != F.col("o.doc_id")),
        )
        .select(
            F.col("d.doc_id").alias("new_id"),
            F.col("o.doc_id").alias("match_id"),
        )
        .dropDuplicates(["new_id", "match_id"])
    )
    return _jaccard_verify(cand, sh, "new_id", "match_id")


# ---------------------------------------------------------------------------
# SimHash (rows-only)
# ---------------------------------------------------------------------------

@spark_query(
    "dedup_simhash",
    oracle=f"""
    SELECT id_a, id_b, hamming FROM read_parquet('{_SH_GOLD}')
    WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit signature (frequency-weighted per-bit
    vote over token xxhash64s — tokens enter with repetition, the
    classic term-weighted scheme), 4×16-bit band blocking, Hamming ≤ 6
    verify via bit_count(xor). Signature construction is JVM-side
    array math.

    Oracle: (id_a, id_b, hamming) frozen by the independent pure-Python
    SimHash in scripts/gen_dedup_goldens.py (same banding, same votes,
    xxh64 replica pinned against F.xxhash64) — drift in the distributed
    vote aggregation or banding breaks the hash match."""
    corpus = _prefix_corpus(read_table(spark, sf_dir, "documents"))
    # bit j of simhash = majority of bit j over token hashes, tokens
    # entering with repetition (term-weighted scheme). The votes are
    # computed on an EXPLODED posting table with one codegen'd
    # aggregation — 64 interpreted F.aggregate HOFs over the token
    # array were measured 3× slower at sf0.1.
    post = corpus.select(
        "doc_id", F.explode(F.split(F.trim("text"), "\\s+")).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))
    # Bit-sliced vote counting (SWAR-in-columns): the ±1 vote sum for
    # bit j equals 2*c_j - n where c_j = #tokens with bit j set and n =
    # token count, so only the c_j counters need aggregating. Pack 3
    # counters of 21 bits into each long (3*21=63 bits, no slot
    # interference below 2^21 ≈ 2M tokens/doc) → 22 plain long sums +
    # one count instead of 64 conditional sums. Measured at sf0.1 this
    # cut the agg from the widest partial-agg row in the bench to ~1/3
    # the state, with pure-arithmetic per-row expressions (no `when`).
    FIELD = 21
    SLOTS = 3
    # Both wide expressions are built as ONE F.expr STRING each (r13):
    # the Column-algebra loops constructed the identical trees through
    # ~600 py4j round-trips, measured at 0.63 s (packed) + 1.04 s (sim)
    # of pure DRIVER latency per invocation — the _bloom_bits_literal
    # lesson applied here. Same operators, same types, same results
    # (golden-pinned in tests/test_llm_ops.py).
    packed = [
        F.expr(
            "SUM("
            + " + ".join(
                f"shiftleft(shiftright(h, {k * SLOTS + s}) & CAST(1 AS BIGINT), {FIELD * s})"
                for s in range(SLOTS)
                if k * SLOTS + s < 64
            )
            + ")"
        ).alias(f"p{k}")
        for k in range((64 + SLOTS - 1) // SLOTS)
    ]
    votes = post.groupBy("doc_id").agg(F.count("*").alias("n"), *packed)
    mask = (1 << FIELD) - 1
    # majority vote per bit: 2*c_j - n > 0; shiftleft wraps to the
    # sign bit for j=63 — exactly bit 63
    sim = F.expr(
        " + ".join(
            "CASE WHEN (shiftright(p{k}, {sh}) & {mask}) * 2 > n "
            "THEN shiftleft(CAST(1 AS BIGINT), {j}) ELSE CAST(0 AS BIGINT) END".format(
                k=j // SLOTS, sh=FIELD * (j % SLOTS), mask=mask, j=j
            )
            for j in range(64)
        )
    )
    # persist the signatures: they're tiny (16 bytes/doc) and the band
    # self-join would otherwise re-execute the scan→explode→agg subtree
    # on BOTH sides (re-measured after the bench's GC-noise fix: persist
    # halves the query; the earlier "persist is slower" reading was GC
    # contamination). At 100 TB this persist is signatures only — 16 GB
    # per trillion docs, spread across the cluster — never the corpus.
    sigs = _fresh_persist("simhash_sigs", votes.select("doc_id", sim.alias("simhash")))
    sigs.count()  # materialize once; both join sides then read the cache
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )
    # same hot-bucket guard as the MinHash band join (see there): a
    # 16-bit chunk shared by a boilerplate cluster is one bucket with
    # the whole cluster in it
    big = _fresh_persist(
        "simhash_band_census",
        banded.groupBy("band", "chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > BAND_BUCKET_CAP)
        .select("band", "chunk"),
    )
    # empty census (every natural corpus) ⇒ no anti-join in the plan
    # at all — the _capped_census recipe; sigs are already cached, so
    # the decision head(1) is a cheap cache-side agg
    if big.head(1):
        banded = banded.join(F.broadcast(big), ["band", "chunk"], "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        # Hamming filter BEFORE the pair-dedup shuffle: the predicate is
        # per-pair deterministic so it commutes with dropDuplicates, and
        # non-matching candidates (the vast majority) never ride the
        # dedup exchange
        .filter(F.col("hamming") <= 6)
        .dropDuplicates(["id_a", "id_b"])
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def cosine(a: Column, b: Column) -> Column:
    """Double-precision cosine via left-fold aggregates (deterministic
    summation order — matches the oracle bit-for-bit in practice)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


@spark_query(
    "dedup_embedding_cosine",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label,
             [list_transform(embedding, x -> CAST(x AS DOUBLE))[1] + 0.05] ||
             list_transform(embedding, x -> CAST(x AS DOUBLE))[2:]
      FROM embeddings WHERE vec_id % 11 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 5) AS cos_sim
    FROM corpus a JOIN corpus b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.98
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: label-blocked, cosine ≥ 0.98. Perturbed
    copies (first dim +0.05) of every 11th vector are the planted
    duplicate population.

    Physical strategy: ``applyInPandas`` per block with a numpy GEMM
    (unit-normalize → M·Mᵀ → upper-triangle threshold). A per-pair
    Catalyst fold was measured 260× slower than DuckDB here — Spark's
    higher-order array functions evaluate interpreted, so all-pairs
    scoring belongs in a blocked matmul (this is the Arrow-UDF
    "built-ins can't express it efficiently" case). Each block is one
    task → at scale, blocks (quantizer cells) shard the O(n²) across
    the cluster and bound per-task memory."""
    import numpy as np
    import pandas as pd

    emb = ensure_parallelism(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    perturbed = F.concat(
        F.array(F.element_at("v", 1) + 0.05),
        F.slice("v", 2, F.size("v") - 1),
    )
    corpus = with_planted_copies(
        emb, 11, mangle={"v": perturbed}, id_col="vec_id"
    )

    out_schema = "id_a long, id_b long, cos_sim double"

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["v"].to_numpy())
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ (m / norms).T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = sims[iu, ju] >= 0.98
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cos_sim": np.round(sims[iu, ju][keep], 5)}
        )

    return (
        corpus.groupBy("label")
        .applyInPandas(block_pairs, schema=out_schema)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Near-dup clusters (connected components over the candidate pair set)
# ---------------------------------------------------------------------------

@spark_query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE golden AS (
      SELECT id_a, id_b FROM read_parquet('{_MH_GOLD}')
      WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM golden
      UNION
      SELECT id_b, id_a FROM golden
    ),
    reach(n, m) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.d, r.m FROM reach r JOIN edges e ON e.s = r.n
    ),
    label AS (SELECT n, MIN(m) AS root FROM reach GROUP BY n)
    SELECT root AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM label GROUP BY root ORDER BY cluster_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from the MinHash pair set: connected
    components by iterative min-label propagation, reported as
    (canonical id = component min, member count).

    Why this exists: the skew bench (BENCH_SF1.md round 3) showed that
    enumerating the pairs of an n-doc duplicate cluster is inherently
    O(n²) — the scale-correct *deliverable* of a dedup pipeline is one
    row per cluster (keep the canonical doc, drop the rest), which is
    linear in the corpus. This operator is the pair → cluster reducer.

    Physical strategy: labels start as each node's own id; each round
    joins labels across the (bidirectional) edge list, takes the min
    label per node (map-side combinable), and stops when no label
    changed — rounds ∝ component diameter, and near-dup components are
    shallow (duplicates of a common source), so convergence is 2-3
    rounds here. Each round eagerly localCheckpoints its IDs-only
    state (materializes the round AND truncates the logical plan —
    see the in-loop comment). For adversarially long chains the known fix is the
    alternating large-star/small-star contraction (O(log n) rounds,
    same join-agg primitives); diameter-bounded propagation keeps this
    implementation transparent against the recursive-CTE oracle, which
    freezes BOTH the pair derivation (golden minhash pairs, computed
    by the independent replica) and the component semantics."""
    # unsorted pair SET (same rows as dedup_minhash_lsh): the edge
    # derivation below explodes + round-robin repartitions, so the
    # registered query's deterministic orderBy would only buy a
    # rangepartitioning exchange + a sampling pass that re-executes
    # the verify segment (r13, see _jaccard_verify)
    pairs = _minhash_verified_pairs(spark, sf_dir, ordered=False).select(
        "id_a", "id_b"
    )
    labels = cluster_labels(pairs)
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .select(F.col("lbl").alias("cluster_id"), "n_members")
        .orderBy("cluster_id")
    )


#: Plain min-label propagation rounds before switching to pointer
#: doubling; near-dup components are shallow, so this is almost always
#: the only phase that runs.
CC_PROPAGATE_ROUNDS = 20
#: Pointer-doubling continuation rounds — each one at least halves the
#: unresolved path length, so 16 covers diameters up to ~2^16 beyond
#: the propagation phase.
CC_DOUBLE_ROUNDS = 16


def cluster_labels(pairs: DataFrame) -> DataFrame:
    """Connected components over an (id_a, id_b) pair frame → one row
    per node: (n, lbl = component minimum).

    Physical strategy: labels start as each node's own id; each round
    joins labels across the (bidirectional) edge list, takes the min
    label per node (map-side combinable), and stops when no label
    changed — rounds ∝ component diameter, and near-dup components are
    shallow (duplicates of a common source), so convergence is 2-3
    rounds on natural corpora. If propagation hasn't converged after
    CC_PROPAGATE_ROUNDS (an adversarially deep duplicate chain), the
    loop SWITCHES to pointer doubling (the Shiloach-Vishkin shortcut,
    round 4 — replaces the r3 loud RuntimeError): each continuation
    round follows one propagation hop with lbl ← label(lbl), at least
    halving every unresolved path, so a 64-deep chain closes in
    ~log₂(64) extra rounds. Both phases are the same join-agg
    primitives and share the sum fixed-point witness, and the fixed
    point itself is phase-independent (labels are monotone
    non-increasing, bounded by the component min, and stable only when
    constant per component) — so the recursive-CTE oracle needs no
    knowledge of which phase finished the job."""
    # bidirect the edge list with ONE explode, not union(pairs, swap):
    # a union duplicates the whole upstream pair lineage into both
    # branches, running that pipeline twice per materialization
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("s"), F.col("id_b").alias("d")),
                F.struct(F.col("id_b").alias("s"), F.col("id_a").alias("d")),
            )
        ).alias("e")
    ).select("e.s", "e.d")
    # The edge set is bounded by the duplicate population (orders of
    # magnitude below the corpus), so pack it into a few cached
    # partitions before the iteration: scanning a 32/64-partition cache
    # of a ~40 k-row frame 32-threads-wide every round costs more in
    # task scheduling than the join itself (measured 9.8 s → 1.3 s per
    # round at sf1). repartition, NOT coalesce — coalesce propagates
    # its width up the narrow stage and would run the candidate-verify
    # scan 8-wide. A cluster run would size this by |edges| / a
    # per-partition row target instead of a constant.
    edges = _fresh_persist("cc_edges", edges.repartition(8))
    # materialize the edge cache BEFORE anything branches on it: the
    # first round's action would otherwise run the whole upstream pair
    # pipeline once per downstream branch racing the not-yet-populated
    # cache
    edges.count()
    labels = edges.select(F.col("s").alias("n"), F.col("s").alias("lbl")).distinct()

    def propagate(lbls: DataFrame) -> DataFrame:
        # One join + one agg: new_label(n) = min over the labels of
        # n's in-neighbors ∪ n itself — the self term rides in as a
        # union of the (tiny) label frame rather than self-loop edges,
        # which would double-run the pair lineage while building the
        # edge cache.
        return (
            lbls.join(edges, lbls["n"] == edges["s"])
            .select(F.col("d").alias("n"), "lbl")
            .unionByName(lbls)
            .groupBy("n")
            .agg(F.min("lbl").alias("lbl"))
        )

    # Each round ends in an EAGER localCheckpoint: it both materializes
    # the round (so the next one never re-runs upstream) and truncates
    # the logical plan — persist alone leaves round i re-analyzing
    # pair-lineage + i rounds of plan (the graph_pagerank_dupes profile
    # measured that compile growth at 1.3 → 4.0 s/round). Convergence:
    # min-label propagation is monotone non-increasing, so the label
    # SUM is a fixed-point witness — unchanged sum ⟺ no label moved —
    # one agg on the checkpointed frame instead of a changed-flag join
    # against the previous round.
    # LAZY localCheckpoint + sum in ONE job per round: the sum action
    # is what materializes the checkpoint, so each round runs a single
    # job instead of eager-materialize + separate witness agg (the
    # round-5 shave: 2 jobs/round → 1). The plan-truncation property
    # is unchanged — by the time the next round composes, the
    # checkpoint is materialized and the lineage is cut.
    prev_sum: int | None = None
    converged = False
    for _ in range(CC_PROPAGATE_ROUNDS):
        nxt = propagate(labels).localCheckpoint(False)
        cur_sum = nxt.agg(F.sum("lbl")).collect()[0][0]
        labels = nxt
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        for _ in range(CC_DOUBLE_ROUNDS):
            hop = propagate(labels).localCheckpoint(True)
            # pointer doubling: lbl ← label(lbl). Every lbl value is a
            # node id present in the label frame (labels start as own
            # ids and only ever take mins of other labels), so the
            # self-join always resolves; left join + coalesce guards
            # the invariant anyway rather than dropping rows if it
            # were ever violated.
            l2 = hop.select(F.col("n").alias("n2"), F.col("lbl").alias("lbl2"))
            nxt = (
                hop.join(l2, hop["lbl"] == l2["n2"], "left")
                .select(
                    "n",
                    F.least(
                        F.col("lbl"), F.coalesce("lbl2", F.col("lbl"))
                    ).alias("lbl"),
                )
                # lazy: the witness sum below materializes it (hop
                # above stays EAGER — it feeds both sides of the
                # doubling self-join, and a lazy checkpoint consumed
                # twice inside one job could recompute)
                .localCheckpoint(False)
            )
            cur_sum = nxt.agg(F.sum("lbl")).collect()[0][0]
            labels = nxt
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    if not converged:
        # monotone labels + doubling make this unreachable for any
        # graph that fits the round budgets (diameter ~2^16); if it
        # ever fires, failing loudly still beats reporting wrong
        # clusters with wrong canonicals
        raise RuntimeError(
            "cluster_labels: did not converge after "
            f"{CC_PROPAGATE_ROUNDS}+{CC_DOUBLE_ROUNDS} rounds"
        )
    return labels


# ---------------------------------------------------------------------------
# PageRank over the near-dup graph (iterative graph analytics beyond
# connected components: rank duplicate-cluster hubs).
# ---------------------------------------------------------------------------

PR_ITERS = 5
#: Damping in parts-per-million (ranks are BIGINT micro-units: float
#: PageRank would feed order-dependent sum drift forward through the
#: rounds — the same cross-engine round-half hazard _qc_weights
#: documents — so the whole recurrence is exact integer arithmetic).
PR_DAMP_PPM = 850_000
PR_SCALE = 1_000_000


def _pr_round_sql(t: int) -> str:
    return (
        f"r{t + 1} AS (SELECT e.d AS n, "
        f"CAST({PR_SCALE - PR_DAMP_PPM} + ({PR_DAMP_PPM} * SUM(r.r // e.deg)) // {PR_SCALE} AS BIGINT) AS r "
        f"FROM r{t} r JOIN e ON e.s = r.n GROUP BY e.d)"
    )


@spark_query(
    "graph_pagerank_dupes",
    oracle=f"""
    WITH golden AS (
      SELECT id_a, id_b FROM read_parquet('{_MH_GOLD}')
      WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)
    ),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM golden
      UNION
      SELECT id_b, id_a FROM golden
    ),
    deg AS (SELECT s, COUNT(*) AS deg FROM edges GROUP BY s),
    e AS (SELECT edges.s, edges.d, deg.deg FROM edges JOIN deg USING (s)),
    r0 AS (SELECT DISTINCT s AS n, CAST({PR_SCALE} AS BIGINT) AS r FROM edges),
    {", ".join(_pr_round_sql(t) for t in range(PR_ITERS))}
    SELECT r{PR_ITERS}.n AS doc_id, r{PR_ITERS}.r AS rank_micro,
           CAST(deg.deg AS BIGINT) AS degree
    FROM r{PR_ITERS} JOIN deg ON deg.s = r{PR_ITERS}.n
    ORDER BY doc_id
    """,
)
def graph_pagerank_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank restricted to the near-dup candidate graph: which
    documents are duplicate HUBS (shared boilerplate sources) vs leaf
    copies — the triage view a dedup pipeline surfaces before deciding
    what to canonicalize.

    Same iterative discipline as dedup_clusters/k-means: the edge list
    (bounded by the duplicate population) is cached once, packed into
    few partitions; each of the PR_ITERS fixed rounds is ONE
    join + map-side-combinable sum. Ranks are BIGINT micro-units and
    the whole recurrence (floor-divide contributions, ppm damping) is
    integer-exact — float PageRank would let order-dependent sum
    drift feed forward through the rounds (the cross-engine
    round-half hazard measured on _qc_weights), while the integer fix
    makes the fixed point bit-identical in any engine. Bidirected
    edges mean no dangling nodes, so no teleport-mass correction term
    is needed. Magnitude bound: per-node Σ contrib × PR_DAMP_PPM
    stays under 2^63 while deg_max × rank_max < 1e13 — comfortably
    true for near-dup graphs (rank mass concentrates only as far as
    component sizes allow)."""
    # unsorted pair SET (same rows as dedup_minhash_lsh): the edge
    # derivation below explodes + round-robin repartitions, so the
    # registered query's deterministic orderBy would only buy a
    # rangepartitioning exchange + a sampling pass that re-executes
    # the verify segment (r13, see _jaccard_verify)
    pairs = _minhash_verified_pairs(spark, sf_dir, ordered=False).select(
        "id_a", "id_b"
    )
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("s"), F.col("id_b").alias("d")),
                F.struct(F.col("id_b").alias("s"), F.col("id_a").alias("d")),
            )
        ).alias("e")
    ).select("e.s", "e.d")
    # ONE persisted edge frame with degree riding as a WINDOW count
    # (r14): the previous shape persisted the raw edges, counted them,
    # aggregated degrees as a second branch, joined, and persisted the
    # result — two persists + two materialization jobs + a join, all to
    # attach one bounded-domain integer. count(*) OVER (PARTITION BY s)
    # on the hash(s)-packed frame computes the identical degree in the
    # same pass that packs the edges (per-key window state is bounded
    # by the node's degree ≤ the duplicate population). Persisting
    # BEFORE any branch still guards the dedup_clusters trap (deg was
    # a second lazy branch of the pair lineage; now there is no second
    # branch at all). Pack with repartition, NOT coalesce: coalesce
    # propagates its width up the narrow stage and would run the
    # candidate-verify scan 8-wide instead of 32-wide; hash(s) keying
    # (vs round-robin) feeds the window without a second exchange.
    e = _fresh_persist(
        "pr_edges",
        edges.repartition(8, "s").withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("s"))
        ),
    )
    e.count()  # materialize before branching (r0 + every round read it)
    ranks = e.select(F.col("s").alias("n")).distinct().select(
        "n", F.lit(PR_SCALE).cast("bigint").alias("r")
    )
    for _ in range(PR_ITERS):
        ranks = (
            ranks.join(e, ranks["n"] == e["s"])
            # `div` = exact BIGINT floor division (floor(r/deg) on
            # doubles mis-floors once quotients leave 2^53)
            .select(F.col("d"), F.expr("r div deg").alias("contrib"))
            .groupBy(F.col("d").alias("n"))
            .agg(F.sum("contrib").alias("sc"))
            .select(
                "n",
                (
                    F.lit(PR_SCALE - PR_DAMP_PPM)
                    + F.expr(f"({PR_DAMP_PPM} * sc) div {PR_SCALE}")
                ).alias("r"),
            )
        )
        # localCheckpoint TRUNCATES the logical plan: with persist
        # alone, round i still re-analyzes a plan containing the whole
        # minhash lineage plus i rounds — measured rounds growing
        # 1.3 → 4.0 s from plan compilation alone; truncated, they
        # shrink to 0.4-1.1 s. LAZY since round 5: PageRank has no
        # per-round convergence witness (fixed PR_ITERS), so nothing
        # needs the round materialized eagerly — the final action
        # computes the whole chain in ONE job, checkpointing each
        # round's RDD as it materializes (each intermediate is
        # consumed exactly once, so laziness cannot recompute). The
        # per-round driver job disappears; plan truncation is
        # unchanged (the checkpoint substitutes a LogicalRDD at
        # compose time either way). (A cluster deployment would use a
        # reliable checkpoint dir for fault tolerance.)
        ranks = ranks.localCheckpoint(False)
    return (
        ranks.join(e.select("s", "deg").distinct(), ranks["n"] == F.col("s"))
        .select(
            F.col("n").alias("doc_id"),
            F.col("r").alias("rank_micro"),
            F.col("deg").cast("bigint").alias("degree"),
        )
        .orderBy("doc_id")
    )

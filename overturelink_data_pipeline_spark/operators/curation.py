"""Training-data curation operators: benchmark decontamination,
sequence packing, PII redaction, stratified hash sampling.

These extend the LLM-pipeline families (dedup/, similarity/, text ops)
with the remaining steps a pretraining-corpus build runs between "raw
crawl" and "tokenized shards":

- **decontamination** — drop/flag training documents that share long
  n-gram shingles with an evaluation benchmark (the GPT-3/PaLM 13-gram
  protocol, here k=8 to fit the synthetic corpus);
- **sequence packing** — concat-and-chunk assignment of documents into
  fixed-length context windows (the GPT-style pretraining layout),
  computed as offsets so the tokenizer stage can shard embarrassingly;
- **PII redaction** — regex scrub of emails/phones/IPs with per-class
  counts (the C4/CCNet hygiene pass);
- **stratified sampling** — deterministic hash-bucket sampling with a
  per-stratum rate (language/domain rebalancing without a shuffle).

Scale design: every op here is either a pure scan-local expression
(redaction, sampling), a broadcast join against a small benchmark set
(decontamination), or a per-source window (packing) — nothing moves
the corpus through an unbounded shuffle.

The driver corpus is clean by construction (no PII, no benchmark
leakage), so decontamination and redaction synthesize their positive
population from the corpus itself — id-derived eval excerpts and
planted contact strings — with the oracle applying the identical
construction (the dedup.py pattern: parity checks the operator, not
the synthetic data).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from overturelink_data_pipeline_spark import scratch
from overturelink_data_pipeline_spark.operators.dedup import with_planted_copies
from overturelink_data_pipeline_spark.operators.text import (
    GOPHER_KEEP_SQL,
    gopher_keep,
)
from overturelink_data_pipeline_spark.operators.text import (
    tokens as _tokens,
)
from overturelink_data_pipeline_spark.functions.grouped import grouped_topk
from overturelink_data_pipeline_spark.registry import spark_query
from overturelink_data_pipeline_spark.functions import urls as _urls
from overturelink_data_pipeline_spark.session import (
    ensure_parallelism,
    read_table,
)

# ---------------------------------------------------------------------------
# Decontamination (eval-benchmark n-gram overlap)
# ---------------------------------------------------------------------------

#: Shingle width for contamination checks. Published pipelines use 13-gram
#: word shingles (GPT-3 appendix C); the synthetic corpus averages ~60
#: tokens from a ~30-word vocabulary, so k=8 keeps chance collisions
#: negligible while every planted excerpt still yields >= 1 shingle.
DECONTAM_K = 8

#: Every 37th document donates its first 25 tokens as an "eval benchmark"
#: record; the donor (and only the donor, up to vanishing chance overlap)
#: is then contaminated by construction.
EVAL_MODULUS = 37
EVAL_EXCERPT_TOKENS = 25


def _ltokens(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def _shingles(tok: Column, k: int) -> Column:
    """Distinct k-token shingles (space-joined) of a token array."""
    idx = F.sequence(F.lit(1), F.size(tok) - (k - 1))
    return F.when(
        F.size(tok) >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, k)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def _eval_shingle_frame(toks: DataFrame) -> DataFrame:
    """Distinct shingles of the synthesized eval excerpts (every
    EVAL_MODULUS-th doc donates its first EVAL_EXCERPT_TOKENS tokens)."""
    return (
        toks.filter(F.col("doc_id") % EVAL_MODULUS == 0)
        .select(
            F.explode(
                _shingles(F.slice(F.col("t"), 1, EVAL_EXCERPT_TOKENS), DECONTAM_K)
            ).alias("sh")
        )
        .distinct()
    )


#: De-registered r13 (merged into text_decontaminate_audit); kept as a
#: module constant so the local parity replica still gates the parent.
TEXT_DECONTAMINATE_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    eval_t AS (
      SELECT list_slice(t, 1, {EVAL_EXCERPT_TOKENS}) AS t
      FROM d WHERE doc_id % {EVAL_MODULUS} = 0
    ),
    eval_sh AS (
      SELECT DISTINCT array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' ') AS sh
      FROM eval_t, unnest(generate_series(1, len(t) - {DECONTAM_K - 1})) AS u(i)
      WHERE len(t) >= {DECONTAM_K}
    ),
    train_sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' ') AS sh
      FROM d, unnest(generate_series(1, len(t) - {DECONTAM_K - 1})) AS u(i)
      WHERE len(t) >= {DECONTAM_K}
    ),
    hits AS (
      SELECT train_sh.doc_id, COUNT(*) AS c
      FROM train_sh JOIN eval_sh USING (sh)
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.c, 0) AS BIGINT) AS n_overlap,
           CAST(CASE WHEN COALESCE(h.c, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS contaminated
    FROM d LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    k-token shingle with an eval set (excerpts planted from every 37th
    doc; see module docstring for why the eval set is synthesized).

    De-registered r13: its driver slot was merged (with
    text_bloom_decontaminate's) into text_decontaminate_audit, which
    runs BOTH legs off one shared scan; this parent stays the
    direct-call API and keeps its local oracle-replica gate
    (tests/test_round13_fixes.py).

    100 TB plan shape: the eval benchmark is tiny (MMLU+GSM8K+... is
    a few hundred MB of shingles) and arrives as a **broadcast** hash
    set, so the corpus never shuffles — each scan task intersects its
    documents' shingle arrays against the broadcast side and emits
    (doc_id, n_overlap) directly; the only exchange is the final
    per-doc count, already one row per doc from the map side.
    """
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", _ltokens(F.col("text")).alias("t"))
    eval_sh = _eval_shingle_frame(toks)
    train_sh = toks.select(
        "doc_id", F.explode(_shingles(F.col("t"), DECONTAM_K)).alias("sh")
    )
    hits = (
        train_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        toks.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce(F.col("c"), F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination — the constant-size membership plan
# (Bloom 1970; the mechanism CCNet/Dolma-class pipelines use to test
# a crawl against a reference corpus whose exact key set is too big
# to broadcast).
# ---------------------------------------------------------------------------

#: Bloom geometry: BLOOM_M bits probed at BLOOM_K positions — each
#: position is an 8-hex-char slice of md5(shingle) mod BLOOM_M, so
#: the filter (false positives INCLUDED) is bit-reproducible in
#: DuckDB and the driver's value-hash gate applies to an approximate
#: membership structure, completing the hash-verifiable sketch family
#: (HLL cardinality / CMS frequency / reservoir quantile / Bloom
#: membership).
BLOOM_M = 8192
BLOOM_K = 4


def _bloom_pos(j: int, col: Column) -> Column:
    """Probe position ``j``: hex chars [1+8j, 8+8j) of md5 as a long
    mod BLOOM_M — the exact expression the oracle evaluates with
    CAST('0x..' AS BIGINT) % BLOOM_M."""
    return (
        F.conv(F.substring(F.md5(col), 1 + 8 * j, 8), 16, 10).cast("long")
        % BLOOM_M
    )


def _bloom_bits_literal(eval_sh: DataFrame) -> Column:
    """Collect the eval shingles' Bloom image (≤ BLOOM_M bits, bounded
    by geometry regardless of eval-set size) and fold it into ONE
    literal-array expression — the scan-side probe is then pure
    whole-stage codegen with zero joins. One F.expr string, not
    BLOOM_M F.lit columns (the CMS lesson: thousands of py4j Column
    constructions are real driver latency).

    PACKED since r13: BLOOM_M/64 BIGINT words instead of BLOOM_M 0/1
    ints. The flat 8192-element literal array was copied into the
    expression tree once per probe (BLOOM_K = 4 copies ≈ 33 k literal
    nodes), which showed up as a 271 KB formatted plan and >1 s of
    per-invocation analysis/codegen on the audit query; 128-word
    packing shrinks the tree 64×, and the probe becomes a
    shift-and-mask on the selected word (_bloom_hit) — identical bit
    membership, still zero joins."""
    set_bits = {
        int(r["p"])
        for r in eval_sh.select(
            F.explode(
                F.array(*[_bloom_pos(j, F.col("sh")) for j in range(BLOOM_K)])
            ).alias("p")
        )
        .distinct()
        .collect()
    }
    words = []
    for w in range(BLOOM_M // 64):
        v = 0
        for b in range(64):
            if (w << 6) | b in set_bits:
                v |= 1 << b
        if v >= 1 << 63:  # render as the signed 64-bit literal
            v -= 1 << 64
        words.append(f"CAST({v} AS BIGINT)")
    return F.expr("array(" + ",".join(words) + ")")


def _bloom_hit(bits: Column, col: Column) -> Column:
    """True iff ALL BLOOM_K probe positions of md5(``col``) are set in
    the packed word array ``bits``: word = element_at(bits, p div 64
    + 1), tested with (word >> (p mod 64)) & 1. The variable shift
    goes through call_function (the DSL shiftright only takes a
    literal amount); arithmetic sign extension is irrelevant under
    the & 1 mask."""
    import functools

    def probe(j: int) -> Column:
        p = _bloom_pos(j, col)
        word = F.element_at(bits, F.shiftright(p, 6).cast("int") + 1)
        return (
            F.call_function("shiftright", word, (p % 64).cast("int"))
            .bitwiseAND(F.lit(1).cast("long"))
            == 1
        )

    return functools.reduce(lambda a, b: a & b, [probe(j) for j in range(BLOOM_K)])


#: De-registered r13 (merged into text_decontaminate_audit); kept as a
#: module constant so the local parity replica still gates the parent.
TEXT_BLOOM_DECONTAMINATE_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    eval_t AS (
      SELECT list_slice(t, 1, {EVAL_EXCERPT_TOKENS}) AS t
      FROM d WHERE doc_id % {EVAL_MODULUS} = 0
    ),
    eval_sh AS (
      SELECT DISTINCT array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' ') AS sh
      FROM eval_t, unnest(generate_series(1, len(t) - {DECONTAM_K - 1})) AS u(i)
      WHERE len(t) >= {DECONTAM_K}
    ),
    pos AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(sh), 1 + 8 * j, 8) AS BIGINT) % {BLOOM_M} AS p
      FROM eval_sh CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS j) js
    ),
    train_sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' ') AS sh
      FROM d, unnest(generate_series(1, len(t) - {DECONTAM_K - 1})) AS u(i)
      WHERE len(t) >= {DECONTAM_K}
    ),
    probes AS (
      -- p computed in a projection, THEN equi-joined: an expression
      -- inside the ON clause makes DuckDB nested-loop pos x probes
      -- (measured >400 s at sf1 vs ~3 s for the hash join)
      SELECT t.doc_id, t.sh,
             CAST('0x' || substr(md5(t.sh), 1 + 8 * j, 8) AS BIGINT) % {BLOOM_M} AS p
      FROM train_sh t
      CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS j) js
    ),
    hits AS (
      SELECT doc_id, sh
      FROM probes JOIN pos USING (p)
      GROUP BY doc_id, sh
      HAVING COUNT(*) = {BLOOM_K}
    ),
    agg AS (SELECT doc_id, COUNT(*) AS c FROM hits GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(a.c, 0) AS BIGINT) AS n_bloom_hits,
           CAST(CASE WHEN COALESCE(a.c, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS flagged
    FROM d LEFT JOIN agg a USING (doc_id)
    ORDER BY doc_id
    """


def text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via a DETERMINISTIC Bloom filter over the eval
    shingle set: a doc's shingle is flagged iff all BLOOM_K md5-derived
    bit positions are set. Same eval set and shingling as
    text_decontaminate, so the two operators are directly comparable —
    bloom hits ⊇ true hits, and the gap IS the filter's
    false-positive surface, bit-reproduced by the oracle.

    100 TB plan shape — why this exists next to the broadcast-set
    join: text_decontaminate ships the eval shingle SET broadcast-side
    (fine for benchmark-sized eval suites). When the reference side is
    itself corpus-scale — dedup a new crawl against the shingles of an
    EXISTING multi-TB corpus — the exact set cannot be broadcast, but
    its Bloom image is O(M) bits REGARDLESS of reference size and
    mergeable bottom-up (per-partition bitmasks OR together), so the
    probe stays a broadcast-side constant and the corpus never
    shuffles. Here the bit array (≤ BLOOM_M positions, bounded by
    geometry like the CMS grid) collects to the driver and probes as
    one constant-folded literal-array lookup per plane — whole-stage
    codegen, zero joins on the scan side; the only exchange is the
    bounded per-doc hit count.

    De-registered r13: driver slot merged into
    text_decontaminate_audit (shared scan, both legs); this parent
    stays the direct-call API with its local oracle-replica gate."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", _ltokens(F.col("text")).alias("t"))
    eval_sh = _eval_shingle_frame(toks)
    bits = _bloom_bits_literal(eval_sh)
    train_sh = toks.select(
        "doc_id", F.explode(_shingles(F.col("t"), DECONTAM_K)).alias("sh")
    )
    hit = train_sh.filter(_bloom_hit(bits, F.col("sh")))
    hits = hit.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    return (
        toks.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_bloom_hits"),
            (F.coalesce(F.col("c"), F.lit(0)) > 0).cast("int").alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Merged decontamination audit (r13): exact broadcast-set leg + Bloom
# leg in ONE frame, funding the registry slot for
# pipeline_geo_text_corpus under the 100-query ceiling (precedent:
# group_distinct_type_audit, r12).
# ---------------------------------------------------------------------------


@spark_query(
    "text_decontaminate_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ),
    eval_t AS (
      SELECT list_slice(t, 1, {EVAL_EXCERPT_TOKENS}) AS t
      FROM d WHERE doc_id % {EVAL_MODULUS} = 0
    ),
    eval_sh AS (
      SELECT DISTINCT array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' ') AS sh
      FROM eval_t, unnest(generate_series(1, len(t) - {DECONTAM_K - 1})) AS u(i)
      WHERE len(t) >= {DECONTAM_K}
    ),
    train_sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' ') AS sh
      FROM d, unnest(generate_series(1, len(t) - {DECONTAM_K - 1})) AS u(i)
      WHERE len(t) >= {DECONTAM_K}
    ),
    hits AS (
      SELECT train_sh.doc_id, COUNT(*) AS c
      FROM train_sh JOIN eval_sh USING (sh)
      GROUP BY 1
    ),
    pos AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(sh), 1 + 8 * j, 8) AS BIGINT) % {BLOOM_M} AS p
      FROM eval_sh CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS j) js
    ),
    probes AS (
      -- p computed in a projection, THEN equi-joined: an expression
      -- inside the ON clause makes DuckDB nested-loop pos x probes
      -- (measured >400 s at sf1 vs ~3 s for the hash join)
      SELECT t.doc_id, t.sh,
             CAST('0x' || substr(md5(t.sh), 1 + 8 * j, 8) AS BIGINT) % {BLOOM_M} AS p
      FROM train_sh t
      CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS j) js
    ),
    bhits AS (
      SELECT doc_id, sh
      FROM probes JOIN pos USING (p)
      GROUP BY doc_id, sh
      HAVING COUNT(*) = {BLOOM_K}
    ),
    bagg AS (SELECT doc_id, COUNT(*) AS c FROM bhits GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(h.c, 0) AS BIGINT) AS n_overlap,
           CAST(CASE WHEN COALESCE(h.c, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS contaminated,
           CAST(COALESCE(b.c, 0) AS BIGINT) AS n_bloom_hits,
           CAST(CASE WHEN COALESCE(b.c, 0) > 0 THEN 1 ELSE 0 END AS INTEGER)
             AS flagged,
           CAST(CASE WHEN COALESCE(b.c, 0) > 0 AND COALESCE(h.c, 0) = 0
                     THEN 1 ELSE 0 END AS INTEGER) AS bloom_fp
    FROM d
    LEFT JOIN hits h USING (doc_id)
    LEFT JOIN bagg b USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_decontaminate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both decontamination plans over ONE shared scan: the exact
    broadcast-set leg (text_decontaminate) and the constant-size Bloom
    leg (text_bloom_decontaminate), per-doc side by side, with the
    false-positive surface (`bloom_fp` = flagged but not contaminated)
    made explicit — the column an operator of a real pipeline watches
    to size BLOOM_M against the eval suite.

    r13 merge of the two parents (both r11-green; slot funds
    pipeline_geo_text_corpus). The parents remain direct-call API with
    their own local oracle gates; Bloom ⊇ exact dominance is pinned in
    tests/test_round5_ops.py.

    100 TB plan shape: tokenize + shingle the corpus ONCE, then score
    both legs per shingle row in the same pass — the exact leg is a
    LEFT broadcast join against the (distinct) eval set, the Bloom leg
    a constant-folded literal-array probe in codegen — and collapse to
    one row per doc with a single groupBy. The parents' two separate
    explode+aggregate pipelines become one; the only exchanges are the
    per-doc hit-count groupBy and the doc-id stitch back onto the
    corpus (both one-row-per-doc frames keyed identically)."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", _ltokens(F.col("text")).alias("t"))
    eval_sh = _eval_shingle_frame(toks)
    bits = _bloom_bits_literal(eval_sh)
    train_sh = toks.select(
        "doc_id", F.explode(_shingles(F.col("t"), DECONTAM_K)).alias("sh")
    )
    bloom_hit = _bloom_hit(bits, F.col("sh"))
    # eval_sh is DISTINCT, so a left join adds at most one match per
    # train shingle — counting matches == the parents' inner-join count
    hits = (
        train_sh.join(
            F.broadcast(eval_sh.withColumn("_m", F.lit(1))), "sh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("c_exact"),
            F.sum(bloom_hit.cast("int")).alias("c_bloom"),
        )
    )
    n_overlap = F.coalesce(F.col("c_exact"), F.lit(0))
    n_bloom = F.coalesce(F.col("c_bloom"), F.lit(0))
    return (
        toks.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_overlap.cast("bigint").alias("n_overlap"),
            (n_overlap > 0).cast("int").alias("contaminated"),
            n_bloom.cast("bigint").alias("n_bloom_hits"),
            (n_bloom > 0).cast("int").alias("flagged"),
            ((n_bloom > 0) & (n_overlap == 0)).cast("int").alias("bloom_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk offsets)
# ---------------------------------------------------------------------------

#: Context-window length in whitespace tokens. Real pipelines use the
#: tokenizer's context (2k-8k BPE tokens); synthetic docs average ~60
#: tokens, so 64 exercises both multi-doc windows and boundary spans.
PACK_SEQ_LEN = 64

#: Documents per packing substream. Offsets are computed within
#: (source, doc_id // PACK_SUBSTREAM_DOCS) so no window partition ever
#: exceeds this many rows — a single hot source (half the corpus from
#: one crawl) would otherwise funnel into ONE sort partition. Window
#: ids are globally unique per substream, so the layout stays a valid
#: packing; only boundary docs per substream (1 in PACK_SUBSTREAM_DOCS)
#: lose a potential window-share with their neighbour.
PACK_SUBSTREAM_DOCS = 100


@spark_query(
    "text_pack_sequences",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, source,
             doc_id // {PACK_SUBSTREAM_DOCS} AS substream,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    o AS (
      SELECT doc_id, source, substream, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source, substream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
      FROM n
    )
    SELECT doc_id, source,
           CAST(substream AS BIGINT)    AS substream,
           CAST(n_tokens AS BIGINT)     AS n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // {PACK_SEQ_LEN} AS BIGINT) AS first_seq,
           CAST((start_offset + n_tokens - 1) // {PACK_SEQ_LEN} AS BIGINT) AS last_seq,
           CAST(CASE WHEN start_offset // {PACK_SEQ_LEN}
                       <> (start_offset + n_tokens - 1) // {PACK_SEQ_LEN}
                THEN 1 ELSE 0 END AS INTEGER) AS spans_boundary
    FROM o
    ORDER BY doc_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document its byte^Wtoken offset in
    a per-source concat-and-chunk stream of fixed-length context
    windows (GPT-style pretraining layout). Emits, per doc, the global
    token offset within its source stream and the first/last window it
    lands in, so a downstream tokenizer can materialize window shards
    without re-scanning neighbours.

    100 TB plan shape: ONE window function partitioned by
    (source, substream) — packing is defined per source-shard (as real
    pipelines do: you pack within a crawl dump / domain bucket, never
    globally), and the substream key bounds every sort partition at
    PACK_SUBSTREAM_DOCS rows BY CONSTRUCTION, so a hot source cannot
    produce a straggler partition. No global total order, no iterative
    bin-packing state; the greedy first-fit variants that need
    sequential state are deliberately traded for the deterministic
    concat-and-chunk layout used by the large pretraining runs.
    """
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") / PACK_SUBSTREAM_DOCS).cast("bigint").alias("substream"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "substream")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    first_seq = F.floor(start / PACK_SEQ_LEN)
    last_seq = F.floor((start + F.col("n_tokens") - 1) / PACK_SEQ_LEN)
    return (
        n.select(
            "doc_id",
            "source",
            "substream",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            start.cast("bigint").alias("start_offset"),
            first_seq.cast("bigint").alias("first_seq"),
            last_seq.cast("bigint").alias("last_seq"),
            (first_seq != last_seq).cast("int").alias("spans_boundary"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Patterns are written to the RE2 ∩ java.util.regex common dialect so the
#: oracle runs them verbatim. Order matters: emails first (their local
#: part may contain digits), then IPs (dots break the phone pattern but
#: redact them first anyway), then phones.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE = r"\+?\d[\d-]{7,}\d"

#: Every 7th document gets a planted contact line (the corpus itself is
#: digit-free, so these are the only matches and the redacted text is a
#: deterministic function of the input).
PII_MODULUS = 7

_PII_TAIL_SQL = (
    "' contact user' || CAST(doc_id % 100 AS VARCHAR)"
    " || '@example.com or phone +1-202-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'"
)


def _pii_tail_spark() -> Column:
    d = F.col("doc_id")
    return F.concat(
        F.lit(" contact user"),
        (d % 100).cast("string"),
        F.lit("@example.com or phone +1-202-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (d % 256).cast("string"),
        F.lit(".17"),
    )


@spark_query(
    "text_pii_redact",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % {PII_MODULUS} = 0
                  THEN text || {_PII_TAIL_SQL}
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_IP}')) AS BIGINT)    AS n_ips,
           CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IP}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM corpus
    ORDER BY doc_id
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: scrub emails / IPv4s / phone numbers with
    typed placeholder tags and count matches per class (planted contact
    lines supply the positives; see module docstring).

    100 TB plan shape: three chained ``regexp_replace`` + three
    ``regexp_extract_all`` counts, all whole-stage-codegen expressions
    on the scan — zero shuffle, and the per-class counts roll up with
    a later cheap agg when a hygiene report is wanted.
    """
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    text = F.when(
        F.col("doc_id") % PII_MODULUS == 0,
        F.concat(F.col("text"), _pii_tail_spark()),
    ).otherwise(F.col("text"))
    corpus = docs.select("doc_id", text.alias("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IP,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )

    def _count(pat: str) -> Column:
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))

    return corpus.select(
        "doc_id",
        _count(PII_EMAIL).cast("bigint").alias("n_emails"),
        _count(PII_IP).cast("bigint").alias("n_ips"),
        _count(PII_PHONE).cast("bigint").alias("n_phones"),
        redacted.alias("redacted"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------

#: Per-language keep rates expressed as an exclusive upper bound on the
#: first md5 byte (two hex chars, string-compared): '40' ≈ 25 %, '80' ≈
#: 50 %, 'g0' > 'ff' ≈ 100 %. Hash-threshold sampling is the standard
#: reproducible way to hit a language/domain mixture target.
SAMPLE_THRESHOLDS: dict[str, str] = {
    "en": "80",  # 50 %
    "es": "40",  # 25 %
    "de": "40",  # 25 %
    "fr": "20",  # 12.5 %
    "zh": "g0",  # 100 % (keep all)
}


#: Inclusion-test resolution for the importance leg (probabilities
#: quantized to 1/1e4).
WS_BUCKETS = 10_000
#: Weight saturation: p(doc) = min(n_chars, WS_CAP) / WS_CAP.
WS_CAP = 5_000
#: Knuth multiplicative-hash constant (2^32 * golden ratio).
WS_MIX = 2_654_435_761

_STRAT_CASE = " ".join(
    f"WHEN '{lang}' THEN '{thr}'" for lang, thr in SAMPLE_THRESHOLDS.items()
)


def stratified_keep() -> Column:
    """Per-row STRATIFIED keep predicate: md5-of-key bucket under the
    per-language threshold — reproducible across runs, machines, and
    engine versions (unlike ``df.sample``, whose output depends on
    partitioning). Scan-local codegen (hash + string compare): keeping
    a corpus to a language-mixture target costs one pass, no shuffle."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thr = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(t))
            for lang, t in SAMPLE_THRESHOLDS.items()
        ],
        F.lit("00"),
    )
    return bucket < thr


def weighted_keep() -> Column:
    """Per-row IMPORTANCE-weighted Bernoulli keep predicate: doc kept
    iff hash(doc_id) mod 1e4 falls under its weight-proportional
    threshold, weight = min(n_chars, cap)/cap (stand-in for any
    quality score). All INTEGER arithmetic (multiplicative hash,
    cross-multiplied threshold test — no floats), so the sample is
    bit-reproducible across engines, re-runs, and partitionings.

    Overflow guard (ADVICE r7): doc_id is masked to 31 bits BEFORE the
    Knuth multiply — the raw product wraps int64 above doc_id ≈ 3.47e9
    (Spark would silently go negative and admit every row; DuckDB
    raises), while (2^31−1) × 2654435761 ≈ 5.70e18 stays inside int64
    in both engines. A 32-bit mask would NOT be enough (2^32 × WS_MIX
    ≈ 1.14e19 > int64 max); the 31-bit mask keeps the hash mixing over
    the full bucket range and is the identity for every doc_id below
    2^31, so existing sampled sets are unchanged. doc_id ≥ 0 by
    schema, so `%` agrees between engines."""
    h = ((F.col("doc_id") % F.lit(2147483648)) * WS_MIX) % F.lit(
        4294967296
    ) % WS_BUCKETS
    w = F.least(F.col("n_chars"), F.lit(WS_CAP))
    return h * WS_CAP < w * WS_BUCKETS


@spark_query(
    "sample_hash_audit",
    oracle=f"""
    WITH d AS (
      SELECT source, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
             ((doc_id % 2147483648) * {WS_MIX}) % 4294967296 % {WS_BUCKETS} AS h,
             least(n_chars, {WS_CAP}) AS w
      FROM documents
    ),
    k AS (
      SELECT source, lang,
             CASE WHEN bucket < CASE lang {_STRAT_CASE} ELSE '00' END
                  THEN 1 ELSE 0 END AS s,
             CASE WHEN h * {WS_CAP} < w * {WS_BUCKETS} THEN 1 ELSE 0 END AS kw,
             w
      FROM d
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s) AS BIGINT)   AS n_strat,
           CAST(SUM(kw) AS BIGINT)  AS n_weight,
           ROUND(SUM(s) * 1.0 / COUNT(*), 4)  AS strat_rate,
           ROUND(SUM(kw) * 1.0 / COUNT(*), 4) AS weight_rate,
           ROUND(SUM(w) * 1.0 / ({WS_CAP} * COUNT(*)), 4) AS expected_weight_rate
    FROM k
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def sample_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-sampling audit, both flavors in one bounded
    rollup (r7 registry merge of sample_stratified + sample_weighted —
    the two queries shared the scan + the hash-threshold idea and
    differed only in which predicate they audited): per (source, lang)
    stratum, the document count, how many rows each keep-predicate
    admits (``stratified_keep`` — per-STRATUM rate via md5 bucket;
    ``weighted_keep`` — per-ROW inclusion probability ∝ a quality
    weight, the DoReMi / importance-resampling shape), the realized
    rates, and the expected importance rate.

    100 TB plan shape: both predicates are scan-local codegen over one
    pass; the only shuffle is the map-side-combinable rollup to
    ~|sources|x|langs| rows. The kept-rows variant of either leg is
    the same predicate used as a filter (exported for that purpose);
    changing a mixture is a threshold edit, not a re-shard."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    w = F.least(F.col("n_chars"), F.lit(WS_CAP))
    return (
        docs.select(
            "source",
            "lang",
            stratified_keep().cast("long").alias("s"),
            weighted_keep().cast("long").alias("kw"),
            w.alias("w"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("s").cast("bigint").alias("n_strat"),
            F.sum("kw").cast("bigint").alias("n_weight"),
            F.round(F.sum("s") * 1.0 / F.count(F.lit(1)), 4).alias("strat_rate"),
            F.round(F.sum("kw") * 1.0 / F.count(F.lit(1)), 4).alias("weight_rate"),
            # SUM(w) is exact integer in both engines; ONE double
            # division then rounds the identical bits — F.avg's
            # summation-order drift flipped the 4th decimal (r7).
            F.round(
                F.sum("w") * 1.0 / (WS_CAP * F.count(F.lit(1))), 4
            ).alias("expected_weight_rate"),
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# Domain-mixture report
# ---------------------------------------------------------------------------

#: Target mixture: uniform across sources. Real pipelines weight by
#: quality tier; the operator shape (one rollup + a broadcast-scalar
#: share computation) is identical for any target table.
@spark_query(
    "domain_mix_report",
    oracle="""
    WITH per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS k FROM per)
    SELECT per.source, per.n_docs, per.n_tokens,
           ROUND(per.n_tokens * 1.0 / tot.t, 6)                 AS token_share,
           ROUND((tot.t * 1.0 / tot.k) / per.n_tokens, 6)       AS mix_weight
    FROM per CROSS JOIN tot
    ORDER BY per.source
    """,
)
def domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture report: per-source token mass, its share of the
    corpus, and the sampling weight that would rebalance the corpus to
    the target (uniform) mixture — the planning step before a
    sample_stratified-style pass enforces the mix.

    100 TB plan shape: one map-side-combinable rollup to ~|sources|
    rows, then the corpus total joins back as a broadcast scalar —
    the second "join" is against a 1-row aggregate, so nothing
    corpus-sized moves twice.
    """
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("bigint")
        .alias("n_tokens"),
    )
    # corpus totals via an empty-partition window over the ~|sources|-row
    # aggregate — one scan of documents total (a separate agg + crossJoin
    # would recompute `per` and scan the corpus twice)
    w = Window.partitionBy()
    return (
        per.withColumn("t", F.sum("n_tokens").over(w))
        .withColumn("k", F.count(F.lit(1)).over(w))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t"), 6).alias("token_share"),
            F.round((F.col("t") / F.col("k")) / F.col("n_tokens"), 6).alias(
                "mix_weight"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier (the fastText-style scorer
# the LLaMA/RedPajama/CCNet pipelines run between rule filters and
# LM-perplexity filters: hash tokens into a bounded feature space,
# score = mean of learned per-feature weights).
# ---------------------------------------------------------------------------

#: Feature-space size (buckets of the token hash).
QC_FEATURES = 64
#: Char-polynomial modulus (< 2^31 so every fold step stays BIGINT-exact).
QC_MOD = 2_147_483_647

def char_fold_hash(tok: Column) -> Column:
    """Char-fold polynomial hash of a token, mod QC_MOD — every step
    stays under 2^63 (acc < 2^31, acc*257 + cp < 2^40), so the fold is
    BIGINT-exact and replicable in any engine (tests pin it against a
    pure-Python replica)."""
    chars = F.filter(F.split(tok, ""), lambda c: c != F.lit(""))
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda a, b: (a * 257 + b) % F.lit(QC_MOD),
    )


def char_fold_hash_py(tok: str) -> int:
    """Pure-Python replica of :func:`char_fold_hash`."""
    h = 0
    for ch in tok:
        h = (h * 257 + ord(ch)) % QC_MOD
    return h


def _qc_weights() -> list[int]:
    """Deterministic stand-in for trained weights, in INTEGER
    milli-units (x 1e4): a fixed linear-congruential sequence mapped
    to [-10000, 10000). Integer weights keep the per-doc score sum
    BIGINT-exact in both engines — a float mean can land exactly on a
    round-half boundary (measured: sum/n = -0.30945 rounded to
    -0.3094 by Spark, -0.3095 by DuckDB). (A real pipeline would load
    trained weights; the operator shape — hash, lookup, sum — is
    identical, and quantized weights are standard there too.)"""
    w, x = [], 1234567
    for _ in range(QC_FEATURES):
        x = (x * 1103515245 + 12345) % (2**31)
        w.append(round(x / 2**30 * 10000) - 10000)
    return w


QC_WEIGHTS = _qc_weights()


@spark_query(
    "text_quality_classifier",
    oracle=f"""
    WITH w(fid, wt) AS (VALUES {", ".join(f"({i}, {v})" for i, v in enumerate(QC_WEIGHTS))}),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             list_reduce(list_transform(string_split(tok, ''),
                                        c -> CAST(unicode(c) AS BIGINT)),
                         (a, b) -> (a * 257 + b) % {QC_MOD}) % {QC_FEATURES} AS fid
      FROM toks WHERE tok <> ''
    ),
    s AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.wt) AS BIGINT) AS score_milli
      FROM f JOIN w USING (fid)
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_tokens, score_milli,
           CAST(CASE WHEN score_milli > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM s
    ORDER BY doc_id
    """,
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear classifier: each token hashes (char-fold
    polynomial mod 2^31, BIGINT-exact in both engines) into one of
    QC_FEATURES buckets; a document's score is the SUM of the integer
    bucket weights (milli-units); keep = score > 0 (equivalent to
    mean > 0, with no float division anywhere).

    Scale shape: the whole scorer is ONE scan — tokenize, hash, and
    the weight lookup all run inside codegen (the weight table ships
    as a literal array indexed by ``element_at``, never a join), and
    the per-doc sum is a map-side-combinable groupBy. The interpreted
    char-fold is the portability price of a cross-engine-exact hash;
    a production variant swaps in ``F.xxhash64`` (JVM intrinsic) with
    the pinned replica in functions/xxh64.py as its oracle."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(_ltokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    wt = F.element_at(
        F.array(*[F.lit(v) for v in QC_WEIGHTS]),
        (char_fold_hash(F.col("tok")) % QC_FEATURES).cast("int") + 1,
    )
    s = (
        toks.select("doc_id", wt.alias("wt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("wt").cast("bigint").alias("score_milli"),
        )
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "score_milli",
        (F.col("score_milli") > 0).cast("int").alias("keep"),
    ).orderBy("doc_id")




# ---------------------------------------------------------------------------
# Fixed-size per-group reservoir (deterministic grouped top-k by hash)
# ---------------------------------------------------------------------------

#: Reservoir size per source.
RESERVOIR_K = 25


@spark_query(
    "sample_reservoir",
    oracle=f"""
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             CAST(ROW_NUMBER() OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      FROM documents) t
    WHERE rk <= {RESERVOIR_K}
    ORDER BY source, rk
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE uniform sample per source (the eyeball-QA /
    held-out-audit primitive: "give me exactly K docs from every
    source, stable across runs"), complementing sample_stratified's
    fixed-RATE sampling: rank documents by md5(doc_id) within each
    source and keep the K smallest — a deterministic reservoir, since
    a uniform hash's K smallest values are a uniform K-subset.

    100 TB plan shape: grouped top-k via the knn_join two-phase window
    — a single window over ``source`` would funnel each source's whole
    partition through ONE reducer (exactly the dominant-source
    straggler sink_training_shards had). Phase 1 ranks within
    (source, input partition) — the shuffle key is salted by partition
    id, so no reducer sees more than one partition's share — and keeps
    at most K rows per (source, partition); phase 2 ranks the
    surviving ≤ K × P rows per source, a frame bounded by K × shuffle
    width, not by the corpus."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    h = F.md5(F.col("doc_id").cast("string"))
    return (
        grouped_topk(
            docs.select("source", "doc_id", h.alias("h")),
            ["source"],
            ["h", "doc_id"],
            RESERVOIR_K,
        )
        .select("source", "doc_id", F.col("rk").cast("bigint").alias("rk"))
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# End-to-end pretraining-corpus build: rule-filter → exact-dedup →
# concat-and-chunk packing, reported as the per-source build audit.
# ---------------------------------------------------------------------------

#: Every 3rd document donates a verbatim copy (id + 1e6) — the
#: duplicated-ingestion population the dedup stage must collapse
#: (matches dedup_exact's construction, dedup.py).
PRETRAIN_DUP_MODULUS = 3


@spark_query(
    "pipeline_pretrain_corpus",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, text FROM documents
      WHERE doc_id % {PRETRAIN_DUP_MODULUS} = 0
    ),
    kept AS (
      SELECT doc_id, source, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM corpus WHERE {{GOPHER_KEEP_SQL}}
    ),
    canon AS (
      SELECT md5(text) AS h,
             MIN(doc_id)              AS doc_id,
             arg_min(source, doc_id)  AS source,
             MIN(n_tokens)            AS n_tokens
      FROM kept GROUP BY md5(text)
    ),
    sub AS (
      SELECT source, doc_id // {PACK_SUBSTREAM_DOCS} AS substream,
             SUM(n_tokens) AS sub_tokens
      FROM canon GROUP BY 1, 2
    ),
    packed AS (
      SELECT source,
             CAST(SUM(sub_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(CAST(ceil(sub_tokens * 1.0 / {PACK_SEQ_LEN}) AS BIGINT)) AS BIGINT) AS n_sequences
      FROM sub GROUP BY source
    ),
    raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw FROM corpus GROUP BY source),
    filt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY source),
    ded AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_canonical FROM canon GROUP BY source)
    SELECT raw.source, raw.n_raw, filt.n_kept, ded.n_canonical,
           packed.total_tokens, packed.n_sequences,
           ROUND(packed.total_tokens * 1.0 / (packed.n_sequences * {PACK_SEQ_LEN}), 4) AS utilization
    FROM raw JOIN filt USING (source) JOIN ded USING (source) JOIN packed USING (source)
    ORDER BY source
    """.replace("{GOPHER_KEEP_SQL}", GOPHER_KEEP_SQL),
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation LIFECYCLE as one plan: raw corpus (with planted
    duplicate ingestion) → Gopher rule filter → exact dedup (canonical
    = lowest doc_id per content hash) → per-source concat-and-chunk
    packing — reported as the per-source build audit (docs surviving
    each stage, token total, sequence count, window utilization).

    This is the "one command from crawl to training shards" shape; at
    100 TB every stage composes scan-locally: the filter is a codegen
    predicate on the scan, dedup is one hash-groupBy whose key is the
    content hash (min/min_by aggregates, map-side combinable), packing
    needs NO window here — the audit only needs per-substream token
    sums, so it is two more bounded groupBys. Nothing corpus-sized
    crosses a second shuffle.
    """
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    corpus = with_planted_copies(docs, PRETRAIN_DUP_MODULUS, mangle={})
    # Scan 1: the raw/kept stage counters in ONE conditional agg (a
    # separate count per stage would rescan the corpus per counter —
    # the plan audit caught exactly that: 4 parquet scans before this
    # collapse, 2 after).
    flagged = corpus.select(
        "source", gopher_keep(F.col("text")).cast("long").alias("keep")
    )
    stage_counts = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.sum("keep").cast("bigint").alias("n_kept"),
    )
    # Scan 2: the surviving-docs path (dedup + packing audit).
    kept = corpus.filter(gopher_keep(F.col("text"))).select(
        "doc_id",
        "source",
        F.size(_tokens(F.col("text"))).alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    canon = kept.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min("n_tokens").alias("n_tokens"),
    )
    sub = canon.groupBy(
        "source",
        (F.col("doc_id") / PACK_SUBSTREAM_DOCS).cast("bigint").alias("substream"),
    ).agg(F.sum("n_tokens").alias("sub_tokens"), F.count(F.lit(1)).alias("n_sub"))
    packed = sub.groupBy("source").agg(
        F.sum("sub_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.ceil(F.col("sub_tokens") * 1.0 / PACK_SEQ_LEN))
        .cast("bigint")
        .alias("n_sequences"),
        F.sum("n_sub").cast("bigint").alias("n_canonical"),
    )
    return (
        stage_counts
        .join(packed, "source")
        .select(
            "source",
            "n_raw",
            "n_kept",
            "n_canonical",
            "total_tokens",
            "n_sequences",
            F.round(
                F.col("total_tokens") * 1.0 / (F.col("n_sequences") * PACK_SEQ_LEN), 4
            ).alias("utilization"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Training-shard writer: the terminal sink of the curation pipeline —
# hive-partitioned parquet shards with bounded rows per file, audited
# by reading the dataset back.
# ---------------------------------------------------------------------------

#: Rows per shard file (small so the file-split path is exercised even
#: at the test SFs; a real run sizes this to ~a few hundred MB).
SHARD_MAX_ROWS = 16

#: Rows per salt bucket — the unit of writer parallelism. Each
#: (source, doc_id div SHARD_SALT_ROWS) group is one write task, so a
#: dominant source gets rows/SHARD_SALT_ROWS writers instead of ONE.
#: Sizing rule: MANY shard files per salt bucket (here 1024 rows = up
#: to 64 files of SHARD_MAX_ROWS) — the first cut of 64 rows/bucket
#: produced one DIRECTORY per file and the dynamic-partition commit's
#: per-dir overhead tripled the write (25 s vs 8 s at sf0.1, 1 568
#: dirs); production sizes this to ~writer-task granularity (e.g. 1M
#: rows), never file granularity.
SHARD_SALT_ROWS = 1024

#: Output dataset: a per-process leaf under the per-user scratch root
#: (scratch.py has the contract). A mkdtemp per invocation would leak a
#: corpus copy every run, and one fixed path would race concurrent
#: invocations on mode("overwrite"). Repeated invocations in one process
#: overwrite their own leaf, concurrent processes never share one, and
#: naming the leaf removes the leaves of processes that are gone.
def shard_out_dir() -> str:
    """The caller's own shard-dataset leaf, resolved per call rather
    than as a module constant: a fork()ed child gets its own leaf, not
    its parent's, and ``$SPARK_GRAFT_SCRATCH`` set after import is
    honored."""
    return scratch.process_dir("train_shards", "docs")


@spark_query(
    "sink_training_shards",
    oracle=f"""
    WITH buckets AS (
      SELECT source,
             doc_id // {SHARD_SALT_ROWS} AS salt,
             COUNT(*) AS cnt,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
             SUM(n_chars) AS chars
      FROM documents GROUP BY source, salt
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(SUM(ceil(cnt * 1.0 / {SHARD_MAX_ROWS})) AS BIGINT) AS n_files,
           CAST(MIN(min_doc) AS BIGINT) AS min_doc,
           CAST(MAX(max_doc) AS BIGINT) AS max_doc,
           CAST(SUM(chars) AS BIGINT) AS total_chars
    FROM buckets GROUP BY source ORDER BY source
    """,
)
def sink_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard writer + manifest-based audit: documents are written as a
    hive-partitioned parquet dataset (partitionBy(source, salt), rows
    sorted by doc_id within partitions, ``maxRecordsPerFile`` bounding
    every shard); ONE distributed read-back pass derives a PER-SHARD
    MANIFEST (path, source, salt, rows, doc range, chars — the
    reference's sidecar-metadata pattern, source.py:907-928, at shard
    granularity), committed as a single job next to the dataset; the
    returned audit reads the MANIFEST, never the shard tree. Row/char
    totals prove write-read integrity and the manifest's file count
    must equal the per-salt-bucket ceil(rows / max) sum, which the
    oracle predicts from the raw table alone.

    Scale shape: the write is salted — ``salt = doc_id div
    SHARD_SALT_ROWS`` joins ``source`` in both the repartition AND the
    directory layout, so a dominant source (the common-crawl case that
    made the unsalted r3 version a single-task straggler) fans out over
    rows/SHARD_SALT_ROWS writers. Making salt a PARTITION COLUMN is
    what keeps file counts deterministic: all rows of one (source,
    salt) group hash to one task, and a task holding several groups
    still writes each to its own directory, so every dir's file count
    is exactly ceil(group_rows / max) regardless of task packing.
    sortWithinPartitions costs a per-task sort, no extra shuffle.

    The two O(files) metadata terms the r8 decade sweep named (VERDICT
    r8 ask #2) are gone from the plan: (a) the audit's DRIVER-SIDE GLOB
    is replaced by ``input_file_name()`` grouping inside the read-back
    scan the integrity audit already pays — file discovery runs as
    Spark's parallel partition listing, and every later audit is a
    manifest read, O(shards) rows not O(corpus); (b) the job-commit's
    SEQUENTIAL PER-FILE RENAME is removed by committing with
    FileOutputCommitter algorithm v2 (task-side rename at task commit —
    parallel across the cluster; scoped to this write and restored
    after). On an object store the same seam takes the S3A magic /
    manifest committer instead — v2's semantics (no second copy of
    task output) are exactly what those committers generalize."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    out = shard_out_dir()
    salted = docs.withColumn(
        "salt", (F.col("doc_id") / SHARD_SALT_ROWS).cast("long")
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    algo_key = "mapreduce.fileoutputcommitter.algorithm.version"
    prev_algo = hconf.get(algo_key)
    hconf.set(algo_key, "2")
    try:
        (
            # EXPLICIT partition count (REPARTITION_BY_NUM): a bare
            # repartition(cols) is an AQE-coalescible shuffle, and the
            # profile showed AQE folding the ~1 MB shuffle into ONE
            # partition — every (source, salt) directory then written
            # serially by a single task (11.2 s cold / 5.4 s warm at
            # sf0.1, the whole query's dominant stage). Pinning the
            # count to cluster width keeps the writers parallel — the
            # salting design's whole point; write parallelism is set
            # by file/commit latency, not by shuffle bytes, which is
            # the one signal AQE's coalescing can see. Each (source,
            # salt) group still hashes wholly into one task, so the
            # per-directory file count stays exactly
            # ceil(group_rows / max). A deployment with more groups
            # than cores would size this at ~#groups instead.
            salted.repartition(
                spark.sparkContext.defaultParallelism, "source", "salt"
            )
            .sortWithinPartitions("source", "salt", "doc_id")
            .write.option("maxRecordsPerFile", SHARD_MAX_ROWS)
            .partitionBy("source", "salt")
            .mode("overwrite")
            .parquet(out)
        )
        # one distributed pass over the dataset → per-shard manifest,
        # committed as one small job (#rows = #files)
        (
            spark.read.parquet(out)
            .groupBy(F.input_file_name().alias("path"), "source", "salt")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("rows"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
                F.sum("n_chars").cast("bigint").alias("chars"),
            )
            .write.mode("overwrite")
            .parquet(out + "_manifest")
        )
    finally:
        if prev_algo is None:
            hconf.unset(algo_key)
        else:
            hconf.set(algo_key, prev_algo)
    return (
        spark.read.parquet(out + "_manifest")
        .groupBy("source")
        .agg(
            F.sum("rows").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.min("min_doc").cast("bigint").alias("min_doc"),
            F.max("max_doc").cast("bigint").alias("max_doc"),
            F.sum("chars").cast("bigint").alias("total_chars"),
        )
        .select("source", "n_rows", "n_files", "min_doc", "max_doc", "total_chars")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# URL / host-level crawl dedup (VERDICT r11 ask #5a — the crawl-curation
# primitive the dedup family didn't cover: cosmetic URL variants are the
# FIRST dedup layer a crawl pipeline runs, before any content hashing).
# ---------------------------------------------------------------------------

def url_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic crawl-URL table derived from `documents` (the
    corpus carries no URL column, so — like media_fixture — the fixture
    synthesizes one per doc, exercising every canonicalization rule:
    scheme/host case, www., default ports, trailing slash, utm params,
    fragments). The oracle constructs the identical URLs, so parity
    checks the CANONICALIZER, not the synthetic data."""
    d = F.col("doc_id")
    # every 9th doc lands under a MULTI-label public suffix so the
    # driver row exercises the PSL lookup, not just the default rule
    # (r13: registered_domain went PSL-correct — VERDICT r12 ask #3)
    tld = F.when(d % 9 == 4, ".sample.co.uk").otherwise(
        F.when(d % 2 == 0, ".example.com").otherwise(".example.org")
    )
    base = F.concat(F.col("source"), tld)
    hostraw = F.when(d % 3 == 0, F.concat(F.lit("WWW."), F.upper(base))).otherwise(base)
    scheme = F.when(d % 2 == 0, "HTTPS").otherwise("http")
    port = F.when(
        d % 5 == 0, F.when(d % 2 == 0, ":443").otherwise(":80")
    ).otherwise("")
    path = F.concat(F.lit("/docs/"), (d % 7).cast("string"))
    trail = F.when(d % 4 == 0, "/").otherwise("")
    qry = (
        F.when(
            d % 3 == 1,
            F.concat(F.lit("?utm_source=feed&ref="), (d % 5).cast("string")),
        )
        .when(d % 3 == 2, "?utm_campaign=x")
        .otherwise("")
    )
    frag = F.when(d % 6 == 0, "#sec").otherwise("")
    url = F.concat(scheme, F.lit("://"), hostraw, port, path, trail, qry, frag)
    return read_table(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )


# One CTE per canonicalization rule, mirroring functions/urls.py 1:1
# (RE2 dialect: \1 backrefs, no lookarounds — the patterns were chosen
# so both engines run the same regexes). The domain column is the full
# PSL lookup (r13): both engines parse the SAME vendored snapshot
# (functions/urls.py::PSL_PATH), so parity checks the algorithm —
# wildcards, exceptions, longest-match, default `*` — not a copy of
# its output.
_URL_ORACLE = r"""
WITH raw0 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 9 = 4 THEN '.sample.co.uk'
              WHEN doc_id % 2 = 0 THEN '.example.com'
              ELSE '.example.org' END AS tld
  FROM documents
), raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
         || '://'
         || (CASE WHEN doc_id % 3 = 0
                  THEN 'WWW.' || UPPER(source || tld)
                  ELSE source || tld
             END)
         || (CASE WHEN doc_id % 5 = 0
                  THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END)
                  ELSE '' END)
         || '/docs/' || CAST(doc_id % 7 AS VARCHAR)
         || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 3 = 1
                  THEN '?utm_source=feed&ref=' || CAST(doc_id % 5 AS VARCHAR)
                  WHEN doc_id % 3 = 2 THEN '?utm_campaign=x'
                  ELSE '' END)
         || (CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END) AS url
  FROM raw0
), s1 AS (  -- 1. fragment
  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS c FROM raw
), s2a AS (  -- 2. lowercase scheme + host:port, preserving userinfo
  SELECT doc_id, url, c,
         regexp_extract(c, '^[^:/?#]+://') AS head,
         regexp_extract(c, '^[^:/?#]+://([^/?#]*)', 1) AS auth
  FROM s1
), s2b AS (
  SELECT doc_id, url, c, head, auth,
         regexp_extract(auth, '^([^/?#@]*@)', 1) AS ui
  FROM s2a
), s2 AS (
  SELECT doc_id, url,
         lower(head) || ui || lower(substr(auth, length(ui) + 1))
           || substr(c, length(head) + length(auth) + 1) AS c
  FROM s2b
), s3 AS (  -- 3. www.   4. default ports
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(c, '^([a-z][a-z0-9+.-]*://)www\.', '\1'),
             '^(https://[^/:?#]*):443(([/?#].*)?)$', '\1\2'),
           '^(http://[^/:?#]*):80(([/?#].*)?)$', '\1\2') AS c
  FROM s2
), s4 AS (  -- 5. utm params (adjacent RUNS mid-query, then terminal;
            -- 'g' so separated runs behave like Spark's replace-all)
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(c, '([?&])(utm_[^&#]*&)+', '\1', 'g'),
           '[?&]utm_[^&#]*$', '') AS c
  FROM s3
), s5 AS (  -- 6. path-end slash before the query, trailing '?'/'&',
            -- trailing slash — BOTH slash rules anchored to the start
            -- so a '/' inside or ending a query value survives and
            -- each rule has exactly one possible match
            -- (replace-first == replace-all)
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(c, '^([a-z][a-z0-9+.-]*://[^?#]*)/\?', '\1?'),
             '[?&]$', ''),
           '^([a-z][a-z0-9+.-]*://[^?#]*)/$', '\1') AS c
  FROM s4
), hosted AS (
  SELECT doc_id, url, c,
         regexp_extract(c, '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]*)', 1)
           AS host
  FROM s5
), rolled AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT)              AS n_docs,
         CAST(COUNT(DISTINCT c) AS BIGINT)     AS n_urls,
         CAST(COUNT(DISTINCT url) AS BIGINT)   AS n_raw,
         ROUND(1 - CAST(COUNT(DISTINCT c) AS DOUBLE)
                   / COUNT(DISTINCT url), 4)   AS dup_ratio
  FROM hosted
  GROUP BY host
), psl_raw AS (
  SELECT line FROM read_csv('__PSL__', header=false, delim='|', quote='',
                            columns={'line': 'VARCHAR'})
), psl AS (
  SELECT trim(line) AS rule FROM psl_raw
  WHERE line IS NOT NULL AND trim(line) <> '' AND trim(line) NOT LIKE '//%'
), rules AS (
  SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
              WHEN rule LIKE '*.%' THEN substr(rule, 3)
              ELSE rule END AS base,
         rule LIKE '*.%' AS is_wild,
         rule LIKE '!%'  AS is_exc
  FROM psl
), hparts AS (
  SELECT host, string_split(host, '.') AS p FROM rolled
), cands AS (
  SELECT host,
         array_to_string(list_slice(p, i, len(p)), '.') AS cand,
         len(p) - i + 1 AS clabels
  FROM hparts, unnest(generate_series(1, len(p))) AS u(i)
), cands2 AS (  -- ctail computed in a projection, THEN equi-joined
  SELECT host, cand, clabels,
         regexp_replace(cand, '^[^.]+\.', '') AS ctail
  FROM cands
), m_norm AS (
  SELECT c.host, c.clabels AS ml, r.is_exc
  FROM cands2 c JOIN (SELECT * FROM rules WHERE NOT is_wild) r
    ON c.cand = r.base
), m_wild AS (
  SELECT c.host, c.clabels AS ml, FALSE AS is_exc
  FROM cands2 c JOIN (SELECT * FROM rules WHERE is_wild AND NOT is_exc) r
    ON c.ctail = r.base
  WHERE c.clabels >= 2
), ph AS (
  SELECT host,
         MAX(CASE WHEN is_exc THEN ml - 1 END) AS exc_l,
         MAX(CASE WHEN NOT is_exc THEN ml END) AS best_l
  FROM (SELECT * FROM m_norm UNION ALL SELECT * FROM m_wild)
  GROUP BY host
), dom AS (
  SELECT r.host, COALESCE(ph.exc_l, ph.best_l, 1) AS sl,
         len(string_split(r.host, '.')) AS n
  FROM rolled r LEFT JOIN ph USING (host)
), domains AS (
  SELECT host,
         CASE WHEN n >= sl + 1
              THEN array_to_string(
                     list_slice(string_split(host, '.'), n - sl, n), '.')
         END AS domain
  FROM dom
)
SELECT r.host, d.domain, r.n_docs, r.n_urls, r.n_raw, r.dup_ratio
FROM rolled r JOIN domains d USING (host)
ORDER BY r.host
""".replace("__PSL__", str(_urls.PSL_PATH))


@spark_query("url_host_dedup_rollup", oracle=_URL_ORACLE)
def url_host_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host-level dedup rollup (VERDICT r11
    ask #5a): canonicalize every crawl URL (functions/urls.py — pure
    codegen'd regexp expressions, scan-local), group by canonical host,
    and report how much of each host's raw URL space collapses —
    `dup_ratio` is the fraction of raw variants that were cosmetic.

    Scale: the canonicalizer is a projection (no shuffle); the single
    groupBy keys on host — the natural crawl partition key, with
    partial aggregation collapsing each map partition to
    one row per (host, distinct-seen) before the exchange. COUNT
    DISTINCT over urls rewrites to a two-phase expand+agg, still one
    exchange family. The PSL domain lookup (r13 — full publicsuffix
    algorithm, broadcast-joined rule table) runs on the POST-rollup
    frame, so its cost is host-cardinality, not corpus-cardinality.
    No UDFs, no collects."""
    from overturelink_data_pipeline_spark.functions.urls import (
        canonical_url,
        url_host,
        with_registered_domain,
    )

    urls = url_fixture(spark, sf_dir)
    canon = urls.select(
        "doc_id", "url", canonical_url(F.col("url")).alias("c")
    ).withColumn("host", url_host(F.col("c")))
    rolled = canon.groupBy("host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("c").cast("bigint").alias("n_urls"),
        F.countDistinct("url").cast("bigint").alias("n_raw"),
    )
    return (
        with_registered_domain(rolled)
        .select(
            "host",
            "domain",
            "n_docs",
            "n_urls",
            "n_raw",
            # derived from the output columns so the ratio can never
            # desynchronize from the counts it reports (review r12)
            F.round(
                F.lit(1) - F.col("n_urls").cast("double") / F.col("n_raw"), 4
            ).alias("dup_ratio"),
        )
        .orderBy("host")
    )

"""Text-analysis operators for training-data pipelines (BASELINE.json
north star: language-ID, quality scoring, token counting, document
fingerprinting — each over the ``documents`` table).

All four scoring ops are pure Catalyst expressions (no UDFs): at
100 TB these run inside whole-stage codegen on the scan, embarrassingly
parallel, no shuffle at all until the final rollup. The winnowing
fingerprint (which genuinely needs a sliding window over k-gram
hashes) is the one Arrow pandas UDF, in ``functions/fingerprint.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.operators.dedup import _posting_pairs
from overturelink_data_pipeline_spark.registry import spark_query
from overturelink_data_pipeline_spark.session import (
    ensure_parallelism,
    read_table,
)

#: Marker words per language for the n-gram/stopword-overlap heuristic.
#: (The synthetic corpus draws from one shared vocabulary, so the
#: predictions are a deterministic function of the text, not a real
#: classifier — the operator shape is what matters at scale.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "fast", "slow"],
    "es": ["el", "la", "de", "que", "value", "key"],
    "de": ["der", "die", "und", "von", "table", "row"],
    "fr": ["le", "la", "et", "de", "scan", "merge"],
    "zh": ["stream", "batch", "window", "spark", "agg", "group"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(col), "\\s+")


def _overlap(tok: Column, words: list[str]) -> Column:
    return F.size(
        F.array_intersect(F.array_distinct(tok), F.array(*[F.lit(w) for w in words]))
    )


@spark_query(
    "text_token_count",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                                   AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
           CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)    AS approx_bpe_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + chars/4 BPE-ish estimate."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            "lang",
            F.size(tokens(F.col("text"))).alias("ws"),
            F.ceil(F.length("text") / 4.0).cast("bigint").alias("bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").cast("bigint").alias("ws_tokens"),
            F.sum("bpe").cast("bigint").alias("approx_bpe_tokens"),
        )
        .orderBy("lang")
    )


@spark_query(
    "text_quality_score",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
             END AS punct_ratio,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             w -> list_contains(['the','a','and','of','to','in'], w))) * 1.0
               / greatest(len(string_split_regex(trim(text), '\\s+')), 1) AS stop_ratio
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(punct_ratio, 6)    AS punct_ratio,
           ROUND(stop_ratio, 6)     AS stop_ratio,
           CASE WHEN n_tokens >= 20 AND stop_ratio >= 0.05 THEN 'good'
                WHEN n_tokens >= 10 THEN 'fair'
                ELSE 'poor' END     AS quality
    FROM scored
    ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, punctuation ratio, stopword ratio →
    quality bucket. Pure codegen expressions over the scan."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    tok = tokens(F.col("text"))
    low_tok = tokens(F.lower(F.col("text")))
    n_tokens = F.size(tok)
    punct_ratio = F.when(F.length("text") == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace("text", "[^.,;:!?]", "")) / F.length("text")
    )
    stop_ratio = F.size(
        F.filter(low_tok, lambda w: w.isin(*STOPWORDS))
    ) / F.greatest(n_tokens, F.lit(1))
    quality = (
        F.when((n_tokens >= 20) & (stop_ratio >= 0.05), "good")
        .when(n_tokens >= 10, "fair")
        .otherwise("poor")
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality.alias("quality"),
    ).orderBy("doc_id")


def _lang_oracle_scores() -> str:
    parts = []
    for lang, words in LANG_MARKERS.items():
        arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
        parts.append(
            f"len(list_intersect(list_distinct(string_split_regex(trim(lower(text)), '\\s+')), {arr})) AS s_{lang}"
        )
    return ",\n             ".join(parts)


@spark_query(
    "text_lang_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {_lang_oracle_scores()}
      FROM documents
    )
    SELECT doc_id, lang AS label_lang,
           CASE greatest(s_en, s_es, s_de, s_fr, s_zh)
                WHEN s_en THEN 'en' WHEN s_es THEN 'es' WHEN s_de THEN 'de'
                WHEN s_fr THEN 'fr' ELSE 'zh' END AS predicted_lang,
           CAST(greatest(s_en, s_es, s_de, s_fr, s_zh) AS BIGINT) AS score
    FROM scores
    ORDER BY doc_id
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word overlap per language, argmax
    with a fixed tie-break order (en,es,de,fr,zh)."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    low_tok = tokens(F.lower(F.col("text")))
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("label_lang"),
        *[
            _overlap(low_tok, words).alias(f"s_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANG_MARKERS])
    pred = F.when(F.col("s_en") == best, "en")
    for lang in ["es", "de", "fr"]:
        pred = pred.when(F.col(f"s_{lang}") == best, lang)
    pred = pred.otherwise("zh")
    return scored.select(
        "doc_id",
        "label_lang",
        pred.alias("predicted_lang"),
        best.cast("bigint").alias("score"),
    ).orderBy("doc_id")


# text_fingerprint + text_winnowing_fingerprint merged into
# text_fingerprint_audit r9 (same scan, same rolling-hash family —
# VERDICT r8 ask #1's slot-funding merge; this pair rather than the
# suggested substring_clip/element_at_first because those two are
# r8-FRESH, and retiring fresh queries leaves 50 stale + 2 new > the
# 50-row window — the rotation-feasibility invariant
# tests/test_registry_order.py pins).
@spark_query(
    "text_fingerprint_audit",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
      FROM documents
    ),
    p AS (
      SELECT doc_id, s, unnest(generate_series(1, length(s)-4)) AS i
      FROM d WHERE length(s) >= 5
    ),
    g AS (
      SELECT doc_id, i,
        (((CAST(unicode(substr(s,CAST(i AS INT),1)) AS BIGINT)*257
          + unicode(substr(s,CAST(i+1 AS INT),1)))*257
          + unicode(substr(s,CAST(i+2 AS INT),1)))*257
          + unicode(substr(s,CAST(i+3 AS INT),1)))*257
          + unicode(substr(s,CAST(i+4 AS INT),1)) AS h
      FROM p
    ),
    w AS (
      SELECT doc_id, i,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
        count(*) OVER (PARTITION BY doc_id) AS m
      FROM g
    ),
    picked AS (
      SELECT DISTINCT doc_id, mh FROM w
      WHERE (m <= 4 AND i = 1) OR (m > 4 AND i <= m - 3)
    ),
    agg AS (
      SELECT doc_id, array_to_string(list_sort(list(mh)), ',') AS fingerprints
      FROM picked GROUP BY doc_id
    )
    SELECT doc_id, 'md5' AS kind,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           substr(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 2) AS shard
    FROM documents
    UNION ALL
    SELECT d0.doc_id, 'winnow' AS kind, COALESCE(a.fingerprints, '') AS fp,
           '' AS shard
    FROM documents d0 LEFT JOIN agg a USING (doc_id)
    ORDER BY kind, doc_id
    """,
)
def text_fingerprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both document-fingerprint schemes over ONE scan, as a tall
    (kind, doc_id, fp, shard) frame:

    - ``md5``: normalized-content fingerprint (lowercase + whitespace
      collapse → md5) + a 256-way shard key — the exact-dedup / routing
      primitive;
    - ``winnow``: winnowing fingerprint (rolling k-gram hash + window
      minimum, Schleimer/Wilkerson/Aiken MOSS scheme), semantics pinned
      both by tests/test_llm_ops.py lockstep vs a pure-Python reference
      AND by the DuckDB oracle: for k=5 the polynomial hash never
      exceeds max_codepoint·257⁴ < 2⁶³, so the numpy mod-2⁶⁴ wraparound
      is unreachable and the whole scheme (k-gram hash → sliding min →
      distinct) is exactly expressible in BIGINT SQL with a window
      frame of CURRENT ROW..3 FOLLOWING over valid start positions.

    Plan shape: one documents scan computes both fingerprints, then
    ``stack`` fans each row into the two kinds — no second scan, no
    join between the legs (the pre-merge shape read documents twice)."""
    from overturelink_data_pipeline_spark.functions.fingerprint import (
        winnow_fingerprints,
    )

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), "\\s+", " ")
    both = docs.select(
        "doc_id",
        F.md5(norm).alias("mfp"),
        F.concat_ws(",", winnow_fingerprints(F.col("text"))).alias("wfp"),
    )
    return both.selectExpr(
        "doc_id",
        "stack(2, 'md5', mfp, substring(mfp, 1, 2), 'winnow', wfp, '')"
        " AS (kind, fp, shard)",
    ).orderBy("kind", "doc_id")


@spark_query(
    "text_repetition_filter",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
      FROM documents
    ),
    counts AS (
      SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_count
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(1.0 - n_distinct * 1.0 / n_tokens, 6) AS dup_ratio,
           ROUND(top_count * 1.0 / n_tokens, 6)        AS top_token_ratio,
           CAST(CASE WHEN (1.0 - n_distinct * 1.0 / n_tokens) > 0.5
                       OR top_count * 1.0 / n_tokens > 0.2
                THEN 1 ELSE 0 END AS INTEGER)          AS repetitive
    FROM per_doc
    ORDER BY doc_id
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/C4-style signal:
    near-duplicate token mass inside ONE document marks boilerplate
    and degenerate generations): duplicate-token ratio + most-frequent-
    token mass, thresholded to a `repetitive` flag.

    Plan shape for 100 TB: explode → two-level aggregation, both with
    map-side partial agg. The (doc_id, token) count collapses each
    partition's postings before the shuffle, and the per-doc rollup is
    a near-trivial second hop on the already-small counts table — no
    window, no self-join, and nothing proportional to corpus size
    crosses the wire uncombined."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), "\\s+")).alias("t"),
    )
    counts = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("top_count"),
    )
    dup_ratio = 1.0 - F.col("n_distinct") / F.col("n_tokens")
    top_ratio = F.col("top_count") / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(dup_ratio, 6).alias("dup_ratio"),
        F.round(top_ratio, 6).alias("top_token_ratio"),
        F.when((dup_ratio > 0.5) | (top_ratio > 0.2), 1)
        .otherwise(0)
        .cast("int")
        .alias("repetitive"),
    ).orderBy("doc_id")


def gopher_metrics(text: Column) -> dict[str, Column]:
    """The five Gopher rule metrics as named expressions — the ONE
    definition both text_gopher_quality (which also reports them) and
    gopher_keep / pipeline_pretrain_corpus consume, so rule semantics
    cannot drift between the report and the lifecycle filter."""
    tok = tokens(text)
    ltok = tokens(F.lower(text))
    n_words = F.size(tok)
    denom = F.greatest(n_words, F.lit(1))
    mean_word_len = (
        F.aggregate(
            F.transform(tok, lambda w: F.length(w)), F.lit(0), lambda s, x: s + x
        )
        * 1.0
        / denom
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "alpha_frac": F.size(F.filter(tok, lambda w: w.rlike("[a-zA-Z]")))
        * 1.0
        / denom,
        "n_stop": F.size(F.filter(ltok, lambda w: w.isin(*STOPWORDS))),
        "uniq_frac": F.size(F.array_distinct(tok)) * 1.0 / denom,
    }


def gopher_keep(text: Column) -> Column:
    """The Gopher rule conjunction over :func:`gopher_metrics` — the
    thresholds live here and nowhere else. SQL mirror:
    :data:`GOPHER_KEEP_SQL` (same literals, same rules)."""
    m = gopher_metrics(text)
    return (
        m["n_words"].between(30, 100000)
        & m["mean_word_len"].between(3, 10)
        & (m["alpha_frac"] >= 0.8)
        & (m["n_stop"] >= 2)
        & (m["uniq_frac"] >= 0.2)
    )


#: DuckDB mirror of :func:`gopher_keep` — a boolean SQL expression over a
#: column named ``text`` (whitespace tokens, same thresholds).
GOPHER_KEEP_SQL = """(
  len(string_split_regex(trim(text), '\\s+')) BETWEEN 30 AND 100000
  AND list_reduce(list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w)), (a, b) -> a + b) * 1.0
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) BETWEEN 3 AND 10
  AND len(list_filter(string_split_regex(trim(text), '\\s+'), w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) >= 0.8
  AND len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> list_contains(['the','a','and','of','to','in'], w))) >= 2
  AND len(list_distinct(string_split_regex(trim(text), '\\s+'))) * 1.0
      / greatest(len(string_split_regex(trim(text), '\\s+')), 1) >= 0.2
)"""


@spark_query(
    "text_gopher_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS toks,
             string_split_regex(trim(lower(text)), '\\s+') AS ltoks
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             list_reduce(list_transform(toks, w -> length(w)), (a, b) -> a + b) * 1.0
               / greatest(len(toks), 1) AS mean_word_len,
             len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0
               / greatest(len(toks), 1) AS alpha_frac,
             len(list_filter(ltoks, w -> list_contains(['the','a','and','of','to','in'], w))) AS n_stop,
             len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1) AS uniq_frac
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(mean_word_len, 4) AS mean_word_len,
           ROUND(alpha_frac, 4)    AS alpha_frac,
           CAST(n_stop AS BIGINT)  AS n_stop,
           ROUND(uniq_frac, 4)     AS uniq_frac,
           CAST(CASE WHEN n_words BETWEEN 30 AND 100000
                      AND mean_word_len BETWEEN 3 AND 10
                      AND alpha_frac >= 0.8
                      AND n_stop >= 2
                      AND uniq_frac >= 0.2
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM m
    ORDER BY doc_id
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style RULE filter (vs text_quality_score's scalar score):
    each document is tested against the classic repetition/shape rules
    — word-count bounds, mean-word-length bounds, alphabetic-word
    fraction, minimum stopword evidence, unique-word fraction — and
    `keep` is their conjunction. Pure Catalyst higher-order array
    expressions over one scan: zero shuffle, whole-stage codegen, the
    exact shape a 100 TB pretraining-filter pass needs (the rollup of
    keep-rates is a separate cheap agg).

    Rule thresholds follow the published Gopher heuristics adapted to
    this corpus's scale (30-word floor instead of 50 — the synthetic
    docs average ~50 tokens)."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    m = gopher_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_words"].cast("bigint").alias("n_words"),
        F.round(m["mean_word_len"], 4).alias("mean_word_len"),
        F.round(m["alpha_frac"], 4).alias("alpha_frac"),
        m["n_stop"].cast("bigint").alias("n_stop"),
        F.round(m["uniq_frac"], 4).alias("uniq_frac"),
        gopher_keep(F.col("text")).cast("int").alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus shape: sequence-length histogram
# ---------------------------------------------------------------------------

@spark_query(
    "text_length_histogram",
    oracle="""
    WITH t AS (
      SELECT source, len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT source,
             CAST(floor(log2(greatest(n_tok, 1))) AS INTEGER) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      FROM t GROUP BY 1, 2
    )
    SELECT source, bucket, n_docs, total_tokens,
           ROUND(total_tokens * 1.0 / (SELECT SUM(n_tok) FROM t), 4) AS token_share
    FROM g
    ORDER BY source, bucket
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram per source: docs bucketed by
    floor(log2(token count)) — the shard-planning / curriculum view of
    a corpus ("how much of my token budget sits in short docs?").

    Scale shape: one scan computes the per-doc token count inside
    codegen, one map-side-combinable groupBy produces the (source,
    bucket) cells — a bounded result (#sources x ~log2(max_len)
    buckets) — and the corpus-wide token total for the share column is
    a window over that bounded aggregate, never a second scan of the
    data."""
    from pyspark.sql.window import Window

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    n_tok = F.size(tokens(F.col("text")))
    g = (
        docs.select(
            "source",
            F.floor(F.log2(F.greatest(n_tok, F.lit(1)))).cast("int").alias("bucket"),
            n_tok.alias("n_tok"),
        )
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )
    # corpus total via an empty-partition window over the post-aggregation
    # frame — bounded by group cardinality (|sources| × ~20 log2 buckets),
    # never raw data, so the single-partition WindowExec warning is benign
    total = F.sum("total_tokens").over(Window.partitionBy())
    return g.select(
        "source",
        "bucket",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") * 1.0 / total, 4).alias("token_share"),
    ).orderBy("source", "bucket")


# ---------------------------------------------------------------------------
# Statistical LM quality scoring (CCNet-style perplexity filter with a
# corpus-trained bigram model instead of an external KenLM binary)
# ---------------------------------------------------------------------------

@spark_query(
    "text_lm_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    big AS (
      SELECT doc_id,
             unnest(t[1:len(t)-1]) AS w1,
             unnest(t[2:len(t)])   AS w2
      FROM toks
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(t) AS w FROM toks)),
    scored AS (
      SELECT b.doc_id, -ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS nll
      FROM big b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, AVG(nll) AS a
      FROM scored GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(COALESCE(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(agg.a, 4)      AS avg_nll,
           ROUND(EXP(agg.a), 2) AS ppl
    FROM toks t LEFT JOIN agg USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (the CCNet/KenLM quality-filter
    shape, self-trained): count corpus bigrams, score every document by
    its average add-one-smoothed negative log-likelihood, report
    per-doc (n_bigrams, avg_nll, ppl = exp(avg_nll)).

    p(w2|w1) = (C(w1,w2) + 1) / (C(w1·) + V), where C(w1·) is the
    bigram-prefix count and V the corpus vocabulary size.

    Scale shape: bigrams are built JVM-side with an indexed transform
    over the token array (no window, no per-doc shuffle), counted with
    one map-side-combinable groupBy; scoring re-joins doc bigrams to
    the count tables on the bigram key — a vocabulary-bounded frame
    that broadcasts for closed vocabularies and degrades to a
    sort-merge join on (w1, w2) for open ones, never an unbounded
    state. V is one driver scalar. Rounding at 1e-4 pins the float
    summation order across engines."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents")).select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    # bigrams via indexed transform over the sliced array — w1 = t[i],
    # w2 = t[i+1], all inside codegen ([] is 0-based in Spark SQL)
    bigr = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
        " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
    )
    from .dedup import _fresh_persist

    # persisted: pairs feeds the count tables AND the scoring probe —
    # unpersisted, each consumer re-ran the scan + tokenize + explode
    # subtree (review r10; the CMS query persists its shared vocabulary
    # frame for the same reason)
    pairs = _fresh_persist(
        "lm_pairs",
        docs.select("doc_id", F.explode(bigr).alias("b")).select(
            "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
        ),
    )
    # NOTE (r13): c2 feeds BOTH the c1 rollup and the scoring probe
    # join, and the un-persisted plan carries the pairs→groupBy
    # aggregation twice (AQE does not reuse the identical exchanges).
    # A c2 persist+count was tried (briefly committed, 6108c83) and
    # REVERTED after an 8-pair interleaved first-invocation A/B at the
    # bench protocol: no-persist median 5.25 s vs persist 6.18 s at
    # sf0.1 — the extra count() job, cache build and third cache scan
    # cost more than re-running the cheap aggregation over the
    # already-cached pairs (the agg_bounds scan-rescue lesson). Both
    # duplicated aggregates read the persisted `pairs` cache, so the
    # scan+tokenize+explode subtree still runs once either way.
    c2 = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    # V rides the SAME job as the scoring plan: a broadcast 1-row frame
    # instead of a driver collect (the r3 version paid a whole separate
    # job + scheduling floor for this one scalar — measured 3.95x the
    # DuckDB oracle at sf1, mostly floor)
    vocab = docs.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )
    nll = -F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
    # no broadcast HINT on the count tables: they are vocabulary-
    # bounded, not constant-bounded — AQE broadcasts them while they
    # fit and falls back to a shuffled join on an open vocabulary (a
    # forced hint would override the size check and OOM the driver
    # instead). The 1-row vocab frame is always broadcast.
    agg = (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.avg("nll").alias("a"),
        )
    )
    return (
        docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.round("a", 4).alias("avg_nll"),
            F.round(F.exp("a"), 2).alias("ppl"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters — the bounded-state frequency plan
# for unbounded vocabularies (Cormode & Muthukrishnan 2005). Unlike
# agg_approx_sketches (engine-native approx_percentile/HLL, rows-only
# check), the sketch here is built from DETERMINISTIC md5-derived
# hashes, so DuckDB replicates it cell-for-cell and the driver's
# hash-match gate applies to an approximate structure.
# ---------------------------------------------------------------------------

#: Sketch geometry: CMS_D independent rows of CMS_W buckets. Bucket i
#: of a token = byte i of its md5 — 256 buckets/row keeps planted
#: collisions realistic at test vocabulary sizes.
CMS_D = 4
CMS_W = 256


def _cms_bucket(i: int, col: Column) -> Column:
    """Byte ``i`` of md5(token) as 0-255 (hex pair → int), the exact
    expression the oracle evaluates with CAST('0x..' AS INTEGER)."""
    return F.conv(F.substring(F.md5(col), 1 + 2 * i, 2), 16, 10).cast("int")


@spark_query(
    "agg_count_min_tokens",
    oracle=f"""
    WITH inst AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents
    ),
    exact AS (SELECT t, COUNT(*) AS exact_n FROM inst GROUP BY t),
    cms AS (
      SELECT i, CAST('0x' || substr(md5(t), 1 + 2 * i, 2) AS INTEGER) AS b,
             CAST(SUM(exact_n) AS BIGINT) AS c
      FROM exact CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS i) planes
      GROUP BY 1, 2
    ),
    est AS (
      SELECT e.t, MIN(c.c) AS est_n
      FROM exact e JOIN cms c
        ON c.b = CAST('0x' || substr(md5(e.t), 1 + 2 * c.i, 2) AS INTEGER)
      GROUP BY e.t
    )
    SELECT e.t AS token,
           CAST(est.est_n AS BIGINT) AS est_count,
           CAST(e.exact_n AS BIGINT) AS exact_count
    FROM exact e JOIN est ON est.t = e.t
    ORDER BY est_count DESC, token
    LIMIT 20
    """,
)
def agg_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters over the token stream: estimate every
    token's frequency from a CMS_D × CMS_W counter grid, report the
    top 20 by estimate next to the exact count (the overestimate
    audit; CMS guarantees est ≥ exact always).

    100 TB plan shape — why a sketch beats the exact groupBy at scale:
    the sketch state is CMS_D × CMS_W cells regardless of vocabulary,
    so the counting pass is map-side-combinable down to ≤ 1024 rows
    PER PARTITION before the shuffle — the exchange moves
    O(cells × partitions), never O(vocabulary). The exact side
    (needed here only for the audit and the top-k join) is the
    O(vocabulary) shuffle the sketch exists to avoid; a pure
    production scan would ship the 1 KB grid broadcast-side and probe
    it per candidate token. Determinism: bucket = md5 byte, identical
    in both engines, so even COLLISIONS (the approximation error) are
    bit-reproducible and hash-checked."""
    from .dedup import _fresh_persist

    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    inst = docs.select(F.explode(tokens(F.col("text"))).alias("t"))
    # persisted: the grid subtree below reads it once per broadcast
    # build and the probe side reads it again — one vocabulary agg
    # total, not five
    exact = _fresh_persist(
        "cms_exact",
        inst.groupBy("t").agg(
            F.count(F.lit(1)).cast("bigint").alias("exact_count")
        ),
    )
    # the grid derives from the exact counts this query computes anyway
    # for the audit (counts are additive, so summing per-token totals
    # into buckets is cell-identical to counting instances — and 4×
    # vocabulary rows instead of 4× token instances through the
    # explode). A pure production scan with no audit side builds the
    # grid straight off the instances: same groupBy, map-side combined
    # to ≤ CMS_D × CMS_W rows per partition.
    cms = (
        exact.select(
            "exact_count",
            F.posexplode(
                F.array(*[_cms_bucket(i, F.col("t")) for i in range(CMS_D)])
            ).alias("i", "b"),
        )
        .groupBy("i", "b")
        .agg(F.sum("exact_count").cast("bigint").alias("c"))
    )
    # Probe the grid as DRIVER state instead of the round-4
    # posexplode → join → groupBy(t).min() shape: the grid is bounded
    # by the sketch geometry (CMS_D × CMS_W = 1024 cells — the same
    # bounded-collect class as the k-means centroid fetches), so it
    # ships back as literal int arrays and the min-over-planes is a
    # least() over CMS_D constant-folded element_at lookups — pure
    # whole-stage codegen, zero joins. The O(vocabulary)
    # min-aggregation SHUFFLE of the old shape disappears entirely
    # (VERDICT r4 ask #5); the only vocabulary-wide exchanges left are
    # the exact count itself (the audit the query reports) and the
    # map-side top-20 (TakeOrderedAndProject). This IS the docstring's
    # production probe: the 1 KB grid rides the closure, the scan does
    # 4 array lookups per candidate token.
    grid: dict[tuple[int, int], int] = {
        (int(r["i"]), int(r["b"])): int(r["c"]) for r in cms.collect()
    }
    # one F.expr string per plane, not CMS_W F.lit columns — 1024
    # py4j Column constructions measured as real driver-side latency
    planes = [
        F.expr(
            "array(" + ",".join(str(grid.get((i, b), 0)) + "L" for b in range(CMS_W)) + ")"
        )
        for i in range(CMS_D)
    ]
    est_count = F.least(
        *[
            F.element_at(planes[i], _cms_bucket(i, F.col("t")) + 1)
            for i in range(CMS_D)
        ]
    ).cast("bigint")
    return (
        exact.select(
            F.col("t").alias("token"),
            est_count.alias("est_count"),
            "exact_count",
        )
        .orderBy(F.col("est_count").desc(), "token")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Corpus-overlap matrix (source-pair shingle overlap) — the curation
# audit that answers "how much of source A is already in source B"
# before mixing data sources into a training corpus.
# ---------------------------------------------------------------------------


@spark_query(
    "corpus_overlap_matrix",
    oracle="""
    WITH d AS (
      SELECT source, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             array_to_string(list_slice(t, i, i + 2), ' ') AS sh
      FROM d, unnest(generate_series(1, len(t) - 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT a.source AS sa, b.source AS sb, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa AS src_a, sb AS src_b,
           CAST(c AS BIGINT) AS n_shared,
           ROUND(c * 1.0 / (za.n + zb.n - c), 6) AS jaccard,
           ROUND(c * 1.0 / LEAST(za.n, zb.n), 6) AS containment
    FROM shared
    JOIN sizes za ON za.source = sa
    JOIN sizes zb ON zb.source = sb
    ORDER BY src_a, src_b
    """,
)
def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level 3-gram shingle overlap: for every source
    pair, |S(A) ∩ S(B)| with Jaccard and min-containment — the
    source-mixing audit run before combining crawls/dumps into one
    training corpus (a high containment means source A is largely a
    subset of B and should be down-weighted or dropped).

    100 TB plan shape: the exact set intersection never materializes —
    the inverted index groups distinct (source, shingle) postings by
    shingle, and each key's source list is bounded by the number of
    SOURCES (a config-scale constant, unlike the per-doc posting lists
    the dedup family must cap), so _posting_pairs runs with no census
    at any corpus size and pair fan-out per key is ≤ S².
    repartition("sh") up front makes the per-source distinct AND the
    list collect run partition-local off one exchange (the
    dedup_exact_substring recipe); the S-row size table joins with an
    explicit broadcast hint — provably bounded by the source
    population. Output is ≤ S(S−1)/2 rows regardless of data size."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    t = docs.select("source", tokens(F.col("text")).alias("t"))
    idx = F.expr(
        "CASE WHEN size(t) >= 3 THEN sequence(1, size(t) - 2) "
        "ELSE CAST(array() AS array<int>) END"
    )
    sh = (
        t.select("source", "t", F.explode(idx).alias("i"))
        .select("source", F.expr("array_join(slice(t, i, 3), ' ')").alias("sh"))
        .repartition("sh")
        .dropDuplicates(["source", "sh"])
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        _posting_pairs(sh.withColumnRenamed("source", "doc_id"), None, keys=("sh",))
        .groupBy(F.col("id_a").alias("src_a"), F.col("id_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    za = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na")))
    zb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb")))
    return (
        shared.join(za, "src_a")
        .join(zb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("c").cast("bigint").alias("n_shared"),
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6).alias(
                "jaccard"
            ),
            F.round(F.col("c") / F.least("na", "nb"), 6).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )

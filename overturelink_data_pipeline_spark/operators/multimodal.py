"""Multimodal columns (BASELINE.json north star): image/audio/video as
opaque ``binary`` payloads + typed metadata structs.

The container has no image/audio libraries, so the *decode kernel* is
a deterministic fake clearly marked as a stub (`_fake_decode`) while
everything Spark-side is real and tested: schema, Arrow batch shape,
``mapInPandas`` plumbing, partition behavior, feature-vector column
production. Swapping `_fake_decode` for PIL/librosa is a one-function
change; the distributed plan is unchanged.

Scale notes: payload bytes stay columnar (parquet BINARY) end-to-end;
decode runs ``mapInPandas`` so one task streams Arrow batches without
materializing the whole partition; feature vectors come back as
``array<float>`` ready for the similarity operators.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overturelink_data_pipeline_spark.operators.dedup import (
    _fresh_persist as _fresh_persist_dedup,
    _posting_pairs,
)
from overturelink_data_pipeline_spark.registry import spark_query
from overturelink_data_pipeline_spark.session import (
    ensure_parallelism,
    read_table,
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 8


def _fake_decode(payload: bytes, kind: str) -> tuple[int, int, int, list[float]]:
    """STUB — stands in for PIL/ffmpeg/librosa decode (not available in
    this container). Deterministic function of the payload bytes so
    results are stable for the rows-only check. A real deployment
    replaces ONLY this function."""
    digest = hashlib.md5(payload).digest()
    width = 64 + digest[0]
    height = 64 + digest[1]
    n_frames = 1 if kind == "image" else 1 + digest[2] % 32
    # (byte-128)/128 is an exact binary fraction (denominator 2^7), so
    # the value is bit-identical when re-derived by the DuckDB oracle —
    # no rounding, which would reintroduce half-even-vs-half-up drift
    feature = [(digest[i] - 128) / 128.0 for i in range(3, 3 + FEATURE_DIM)]
    return width, height, n_frames, feature


def decode_media(df: DataFrame) -> DataFrame:
    """mapInPandas decode: streams Arrow batches through the (stub)
    kernel; schema contract = DECODED_SCHEMA."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads are skipped, not decoded (review r10):
            # bytes(None) raised inside the task and one failed-fetch
            # row killed the whole decode job. reset_index so the kept
            # media_id/kind Series align positionally with the lists
            # appended below (a filtered Series keeps its old labels
            # and pd.DataFrame would NaN-misalign the columns)
            pdf = pdf[pdf["payload"].notna()].reset_index(drop=True)
            if pdf.empty:
                # an all-null batch must yield NOTHING: an empty
                # DataFrame infers float64 for the feature column and
                # Arrow cannot cast that to list<float>
                continue
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": [],
                "height": [],
                "n_frames": [],
                "feature": [],
            }
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                w, h, nf, feat = _fake_decode(bytes(payload), kind)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["feature"].append(feat)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def media_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from `documents`: each doc's
    text bytes become the opaque payload (what matters is the plumbing,
    not the codec)."""
    docs = ensure_parallelism(read_table(spark, sf_dir, "documents"))
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.encode("text", "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("content_type"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


_HEX = "0123456789abcdef"
# one md5 byte from hex position p (1-based, odd) as 0-255
_BYTE = (
    f"(strpos('{_HEX}', substr(h, {{p}}, 1)) - 1) * 16"
    f" + strpos('{_HEX}', substr(h, {{p}} + 1, 1)) - 1"
)


def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline slice: binary payloads → mapInPandas decode
    stub → typed metadata + feature vector (first dim surfaced for
    hashability).

    Registered coverage now rides mm_decode_frame_audit (merged r12);
    kept as a plain callable for direct API use and the plumbing test.

    `_fake_decode` is a deterministic function of md5(payload), and the
    payload is the UTF-8 text of `documents`, so DuckDB re-derives
    width/height/n_frames/f0 from md5 hex digits — the full mapInPandas
    Arrow path is hash-checked end-to-end."""
    media = media_fixture(spark, sf_dir)
    decoded = decode_media(media)
    return decoded.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_frames",
        F.element_at("feature", 1).cast("double").alias("f0"),
    ).orderBy("media_id")


@spark_query(
    "mm_metadata_rollup",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY 1
    ORDER BY kind
    """,
)
def mm_metadata_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the media table (payload sizes by
    kind) — the catalog-stats query a media lake runs constantly."""
    media = media_fixture(spark, sf_dir)
    return (
        media.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("meta.n_bytes")).cast("bigint").alias("total_bytes"),
            F.max(F.col("meta.n_bytes")).cast("bigint").alias("max_bytes"),
        )
        .orderBy("kind")
    )


FRAME_STEP = 4

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_score", T.DoubleType()),
    ]
)


def _fake_frame(payload: bytes, idx: int) -> float:
    """STUB frame scorer — stands in for decode-frame + model score
    (no ffmpeg in this container). Deterministic in (payload, idx);
    (x-128)/128 is an exact binary fraction, so the DuckDB oracle
    re-derives it bit-identically from md5 hex digits."""
    b3 = hashlib.md5(payload).digest()[3]
    return ((b3 + idx) % 256 - 128) / 128.0


def sample_frames(df: DataFrame, step: int = FRAME_STEP) -> DataFrame:
    """mapInPandas frame sampler with FAN-OUT: each video row yields
    one output row per sampled frame (0, step, 2·step, … < n_frames) —
    the batch shape a real ffmpeg sampler has (decode once, emit k
    frames), which a row-to-row pandas_udf cannot express."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, scores = [], [], []
            for media_id, payload, kind in zip(
                pdf["media_id"], pdf["payload"], pdf["kind"]
            ):
                if kind != "video" or payload is None:
                    continue  # null payload: nothing to sample (review r10)
                raw = bytes(payload)
                _, _, n_frames, _ = _fake_decode(raw, kind)
                for i in range(0, n_frames, step):
                    ids.append(media_id)
                    idxs.append(i)
                    scores.append(_fake_frame(raw, i))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_score": scores}
            )

    return df.mapInPandas(run, schema=FRAMES_SCHEMA)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: every FRAME_STEP-th frame of each video
    payload, scored by the (stub) per-frame kernel. The Arrow fan-out
    path (one input row → n_frames/step output rows inside
    mapInPandas) is the load-bearing plumbing. Registered coverage now
    rides mm_decode_frame_audit (merged r12)."""
    media = media_fixture(spark, sf_dir)
    return sample_frames(media).orderBy("media_id", "frame_idx")


@spark_query(
    "mm_decode_frame_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             md5(text) AS h
      FROM documents
    ), b AS (
      SELECT media_id, kind,
             {_BYTE.format(p=1)} AS b0,
             {_BYTE.format(p=3)} AS b1,
             {_BYTE.format(p=5)} AS b2,
             {_BYTE.format(p=7)} AS b3
      FROM d
    ), decoded AS (
      SELECT media_id, kind,
             CAST(64 + b0 AS INTEGER) AS width,
             CAST(64 + b1 AS INTEGER) AS height,
             CAST(CASE WHEN kind = 'image' THEN 1 ELSE 1 + b2 % 32 END
                  AS INTEGER) AS n_frames,
             CAST((b3 - 128) / 128.0 AS DOUBLE) AS f0,
             b3
      FROM b
    ), frames AS (
      SELECT media_id, b3,
             unnest(generate_series(0, n_frames - 1, {FRAME_STEP}))
               AS frame_idx
      FROM decoded WHERE kind = 'video'
    )
    SELECT f.media_id,
           CAST(f.frame_idx AS INTEGER) AS frame_idx,
           CAST(((f.b3 + f.frame_idx) % 256 - 128) / 128.0 AS DOUBLE)
             AS frame_score,
           d.width, d.height, d.n_frames, d.f0
    FROM frames f JOIN decoded d USING (media_id)
    ORDER BY media_id, frame_idx
    """,
)
def mm_decode_frame_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mm_decode_features + mm_frame_sample merged (VERDICT r11 ask #5
    slot funding — both r10-green at merge time): per-frame rows from
    the mapInPandas FAN-OUT sampler, enriched with the same media's
    decode-stub metadata from the mapInPandas decode path, joined on
    media_id. BOTH Arrow kernels stay load-bearing in one driver row:
    a regression in either decode (width/height/n_frames/f0) or the
    sampler (frame index set / scores) flips the hash.

    Scale: the join is keyed on media_id — at 100 TB both sides
    partition on the key (no broadcast assumption; frames fan out
    ~n_frames/step per video so neither side is guaranteed small);
    Spark's AQE picks broadcast only when the decoded side actually
    fits. The oracle re-derives everything from md5 hex digits, so the
    decode→sample→score→join pipeline is hash-checked end-to-end."""
    media = media_fixture(spark, sf_dir)
    decoded = decode_media(media).select(
        "media_id",
        "width",
        "height",
        "n_frames",
        F.element_at("feature", 1).cast("double").alias("f0"),
    )
    frames = sample_frames(media)
    return frames.join(decoded, "media_id").orderBy("media_id", "frame_idx")


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup across the media table (image dedup — the
# multimodal leg of the dedup family).
# ---------------------------------------------------------------------------

#: Every 9th doc's media donates a "re-encoded" copy (id + 1e6).
MM_DUP_MODULUS = 9
#: Marker appended to a re-encoded payload (models codec/container bytes).
MM_REENC_MARKER = " reencoded:v2"
#: Pairs at perceptual-hash hamming <= this are duplicates. Banding is
#: the 28 byte-PAIRS (since round 4): hamming <= 6 corrupts at most 6
#: of the 8 hash bytes, leaving >= 2 intact bytes and therefore >= 1
#: intact byte-pair — EXACT recall at this threshold. Do NOT raise to
#: 7: seven corrupted bytes can leave only one intact byte and zero
#: intact byte-pairs (the old single-byte banding tolerated 7, but its
#: 256-value buckets grew linearly with the corpus — see
#: mm_dedup_phash's docstring).
MM_HAMMING_T = 6

PHASH_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType())]
    + [T.StructField(f"b{j}", T.IntegerType()) for j in range(8)]
)


def _fake_phash(payload: bytes) -> list[int]:
    """STUB perceptual hash — stands in for DCT-pHash over decoded
    pixels (no image libs in this container). Faithful to pHash
    STATISTICS: re-encodings of the same content land within a few
    bits (content hash of the normalized payload + 0-2 payload-
    dependent noise bits), unrelated content differs by ~32 bits.
    Returns the hash as 8 bytes (= the 8 LSH bands)."""
    norm = payload
    marker = MM_REENC_MARKER.encode()
    if norm.endswith(marker):
        norm = norm[: -len(marker)]
    base = bytearray(hashlib.md5(norm).digest()[:8])
    raw = hashlib.md5(payload).digest()
    k = raw[4] % 3
    for pos_byte in raw[5 : 5 + k]:
        pos = pos_byte % 64
        base[pos // 8] ^= 1 << (pos % 8)
    return list(base)


def _phash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """media (+ planted re-encodings) → mapInPandas pHash kernel →
    one row of 8 band bytes per media item."""
    from overturelink_data_pipeline_spark.operators.dedup import with_planted_copies

    media = media_fixture(spark, sf_dir).select("media_id", "payload")
    reenc = F.concat(F.col("payload"), F.encode(F.lit(MM_REENC_MARKER), "UTF-8"))
    corpus = with_planted_copies(
        media, MM_DUP_MODULUS, mangle={"payload": reenc}, id_col="media_id"
    )

    def run(batches):
        for pdf in batches:
            rows = [
                [mid, *_fake_phash(bytes(p))]
                for mid, p in zip(pdf["media_id"], pdf["payload"])
                if p is not None  # null payload: no hash (review r10)
            ]
            if not rows:
                continue  # empty-batch dtype inference trap (see decode)
            yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA.fields])

    return corpus.mapInPandas(run, schema=PHASH_SCHEMA)


def _mm_phash_oracle() -> str:
    """Brute-force ground truth: derive every media item's 8 pHash
    band bytes from md5 hex digits (base = md5(normalized payload),
    0-2 noise-bit flips indexed by md5(raw payload) bytes 4-6 — the
    exact _fake_phash recipe), then scan ALL pairs for hamming <=
    MM_HAMMING_T. The banded Spark plan must reproduce this exactly
    (8x8 banding has guaranteed recall at this threshold)."""
    flip = (
        "CASE WHEN n4 % 3 >= {i} AND (n{src} % 64) // 8 = {j} "
        "THEN xor(b{j}, 1 << ((n{src} % 64) % 8)) ELSE b{j} END"
    )
    cols = []
    for j in range(8):
        one = flip.format(i=1, src=5, j=j)
        two = (
            "CASE WHEN n4 % 3 >= 2 AND (n6 % 64) // 8 = {j} "
            "THEN xor(({one}), 1 << ((n6 % 64) % 8)) ELSE ({one}) END"
        ).format(j=j, one=one)
        cols.append(f"{two} AS p{j}")
    ham = " + ".join(f"bit_count(xor(a.p{j}, b.p{j}))" for j in range(8))
    base_bytes = ", ".join(
        _BYTE.format(p=2 * j + 1).replace("(h", "(hn") + f" AS b{j}" for j in range(8)
    )
    noise_bytes = ", ".join(
        _BYTE.format(p=2 * j + 1).replace("(h", "(hr") + f" AS n{j}" for j in (4, 5, 6)
    )
    return f"""
    WITH m AS (
      SELECT doc_id AS media_id, md5(text) AS hn, md5(text) AS hr FROM documents
      UNION ALL
      SELECT doc_id + 1000000, md5(text), md5(text || '{MM_REENC_MARKER}')
      FROM documents WHERE doc_id % {MM_DUP_MODULUS} = 0
    ),
    ph AS (
      SELECT media_id,
             {", ".join(cols)}
      FROM (SELECT media_id, {base_bytes}, {noise_bytes} FROM m)
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM ph a JOIN ph b ON a.media_id < b.media_id
    WHERE {ham} <= {MM_HAMMING_T}
    ORDER BY id_a, id_b
    """


#: Band-bucket cap for the pHash candidate join, mirroring
#: dedup.BAND_BUCKET_CAP. Natural (md5-derived) 16-bit buckets at test
#: scale hold 0-2 members, so the default never fires on the oracle'd
#: corpora — it exists for the ubiquitous-asset case (default
#: thumbnail, blank frame) where one payload cluster would otherwise
#: emit d(d-1)/2 candidate pairs.
MM_BAND_BUCKET_CAP = 256

#: The 28 unordered byte-pairs (j, k), j < k, of the 8 pHash bytes.
_PHASH_BAND_PAIRS = [(j, k) for j in range(8) for k in range(j + 1, 8)]


@spark_query("mm_dedup_phash", oracle=_mm_phash_oracle())
def mm_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over media payloads: pHash kernel in
    mapInPandas (stubbed — deterministic md5-derived hash with
    re-encoding noise bits; see _fake_phash), then byte-PAIR LSH
    candidate generation and exact hamming verification at <= 6 bits.

    Banding is the 28 byte-pairs (16-bit buckets), not the 8 single
    bytes: recall stays EXACT by pigeonhole — hamming <= 6 corrupts at
    most 6 of the 8 bytes, leaving >= 2 intact bytes and therefore >= 1
    intact byte-pair — while natural bucket occupancy drops from n/256
    (single bytes have only 256 possible values, so single-byte buckets
    grow linearly with the corpus) to n/65536. That is what lets a
    fixed MM_BAND_BUCKET_CAP separate natural collisions from genuinely
    hot content at 100 TB.

    Hot-bucket path (the skew guard dedup_ngram/minhash/simhash already
    have): buckets over MM_BAND_BUCKET_CAP are not self-joined —
    instead each over-cap bucket emits STAR pairs (bucket-min member,
    other member), so a ubiquitous asset contributes O(d) candidates
    instead of O(d^2). Recall scope, stated precisely: for the case hot
    buckets actually represent — one ubiquitous payload, members
    hamming-close to the bucket minimum — the star pairs pass
    verification and downstream connected components (dedup_clusters)
    recovers the full cluster (pinned by the union-find coverage test).
    Note the star anchors PER BAND BUCKET (each over-cap bucket's own
    minimum), which narrows the miss window further: a sub-cluster
    sharing one polluted band with a foreign asset still connects
    through any OTHER band where its members are alone (those buckets
    anchor at the sub-cluster's own minimum). A miss therefore needs a
    pair whose EVERY intact band bucket is over-cap AND min-anchored
    far from both members —
    the same declared trade as the text pipeline's "a pair whose entire
    overlap is stop-shingles is not reported": an over-cap band value
    is non-discriminative by definition. The exact closure, if a
    deployment needs it, is recursive star contraction within the
    bucket (re-anchor the unverified remainder on its own minimum —
    passes bounded by the bucket's sub-cluster count, each the same
    join-agg shape). The cap never fires on
    md5-derived natural corpora (measured: max 16-bit bucket size 2 at
    sf0.1), so the oracle's brute-force all-pairs scan stays
    bit-identical; scripts/bench_skew.py (last present in commit
    0f75094) planted a hot identical asset to demonstrate the
    bounded-candidate behavior.

    Scale mechanics mirror dedup_simhash: only (media_id, packed hash,
    band_idx, band_val) crosses the candidate shuffle — never payloads
    or decoded pixels."""
    ph = _fresh_persist_dedup("mm_phash", _phash_table(spark, sf_dir))
    ph.count()  # materialize before the plan branches
    # the 64-bit hash rides the postings as ONE packed BIGINT, so pairs
    # fan out from per-bucket sorted lists (_posting_pairs, payload pk)
    # and hamming verifies inline (bit_count of one XOR — byte-wise XOR
    # concatenated is word XOR): one shuffle of the band rows, no
    # self-join and no verify joins back into the cache. The census
    # stays its own (the star leg needs each hot bucket's min_id), with
    # the _capped_census empty fast path: a natural corpus drops the
    # anti-join and star-leg subtrees from the plan.
    # shiftleft|OR, not Horner multiply: b0 >= 128 would overflow the
    # signed BIGINT top byte and raise under an ANSI session (the
    # driver's default); bitwise shifts carry no overflow semantics
    # and the wrapped two's-complement pattern is exactly the 8 bytes
    pk = F.expr(
        " | ".join(
            f"shiftleft(CAST(b{j} AS BIGINT), {56 - 8 * j})" for j in range(7)
        )
        + " | CAST(b7 AS BIGINT)"
    )
    band_vals = [
        (F.col(f"b{j}") * 256 + F.col(f"b{k}")).cast("int")
        for j, k in _PHASH_BAND_PAIRS
    ]
    keys = ("band_idx", "band_val")
    bands = ph.select(
        F.col("media_id").alias("doc_id"),
        pk.alias("pk"),
        F.posexplode(F.array(*band_vals)).alias(*keys),
    )
    # map-side-combined bucket census; the over-cap list is bounded by
    # the hot-asset population, never the corpus — broadcastable
    big = _fresh_persist_dedup(
        "mm_phash_census",
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
        .filter(F.col("n") > MM_BAND_BUCKET_CAP)
        .select(*keys, "min_id"),
    )
    hot = bool(big.head(1))
    cand = _posting_pairs(
        bands, big.select(*keys) if hot else None, payload="pk", keys=keys
    ).withColumnsRenamed({"pa": "pka", "pb": "pkb"})
    if hot:
        # star pairs for over-cap buckets: O(membership), not
        # O(membership²); the anchor's hash arrives by one bounded
        # join against the cache (hot min-ids ≤ |census|)
        anchors = ph.select(
            F.col("media_id").alias("id_a"), pk.alias("pka")
        )
        cand_hot = (
            bands.join(F.broadcast(big), list(keys))
            .filter(F.col("doc_id") != F.col("min_id"))
            .select(
                F.col("min_id").alias("id_a"),
                F.col("doc_id").alias("id_b"),
                F.col("pk").alias("pkb"),
            )
            .join(anchors, "id_a")
        )
        cand = cand.unionByName(cand_hot.select(*cand.columns))
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("pka").bitwiseXOR(F.col("pkb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= MM_HAMMING_T)
        .orderBy("id_a", "id_b")
    )


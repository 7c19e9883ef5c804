"""Round-8 pins: append-equals-rebuild lifecycle for the two remaining
incremental modes (VERDICT r7 ask #2).

Round 7 pinned the property for the exact-shingle posting index
(test_round7_ops.test_incremental_index_merge_equals_rebuild); these
two tests complete the monthly-release maintenance story:

- LSH band table: appending an admitted crawl's band rows into the
  bucketed band table (insert-into, same bucket spec) then probing the
  next crawl gives exactly the verified pair set of a from-scratch
  LSH banding over (release ∪ crawl).
- Semantic bucketed release: appending an admitted crawl's
  frozen-centroid cell assignments into the bucketed release table
  then probing the next crawl equals (a) a rebuild over the union
  under the SAME frozen centroids and (b) the next-crawl-only subset
  of a frozen-centroid FULL prune over all three corpora.

Together they let a 100 TB index be maintained by appends instead of
monthly rebuilds in all three modalities.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _body(tag: str, n: int = 30) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


def test_lsh_band_table_merge_equals_rebuild(spark):
    """Appending an admitted crawl's band rows into the bucketed band
    table, then band-probing the NEXT crawl, yields exactly the
    verified (new_id, match_id, jaccard) set of a from-scratch LSH
    banding over (release ∪ crawl) — the signature-level analog of the
    exact-shingle pin. Band rows are append-stable because banding is
    per-doc (signature slices hash independently of corpus content);
    the census and probe consume whatever row set the table holds."""
    from overturelink_data_pipeline_spark.operators.dedup import (
        BAND_BUCKET_CAP,
        _band_table,
        _gram_hashes,
        _jaccard_verify,
        _over_cap_keys,
        minhash_signatures_agg,
    )

    def shingles(df):
        toked = df.withColumn("toks", F.split(F.trim(F.col("text")), "\\s+")).filter(
            F.size("toks") >= 3
        )
        return toked.select(
            "doc_id", F.array_distinct(_gram_hashes()).alias("sh")
        )

    def bands(df):
        post = shingles(df).select("doc_id", F.explode("sh").alias("h"))
        return _band_table(minhash_signatures_agg(post))

    release = _mk_docs(
        spark,
        [(i, _body(f"a{i}")) for i in range(1, 11)] + [(11, _body("dup"))],
    )
    # crawl B: one near-dup of release doc 11, one novel doc
    crawl_b = _mk_docs(
        spark, [(1_000_011, _body("dup")), (1_000_050, _body("nov"))]
    )
    # crawl C: dups of release doc 3, of B's novel doc, and a fresh doc
    crawl_c = _mk_docs(
        spark,
        [
            (2_000_003, _body("a3")),
            (2_000_050, _body("nov")),
            (2_000_099, _body("zz")),
        ],
    )

    tbl = "merge_band_" + uuid.uuid4().hex[:8]
    try:
        # release-time write + APPEND of crawl B (same bucket spec:
        # the production band table is (band, bucket)-bucketed so the
        # census/delta-filter/probe never re-exchange the corpus)
        bands(release).write.bucketBy(4, "band", "bucket").sortBy(
            "band", "bucket"
        ).saveAsTable(tbl)
        bands(crawl_b).write.bucketBy(4, "band", "bucket").sortBy(
            "band", "bucket"
        ).mode("append").saveAsTable(tbl)
        merged = spark.table(tbl)

        def probe(index_bands, crawl):
            # mirror dedup_incremental_minhash's probe: census over the
            # full band set, anti-join hot buckets, delta side = the
            # probing crawl, then exact-jaccard verification
            all_bands = index_bands.unionByName(bands(crawl))
            big = _over_cap_keys(all_bands, BAND_BUCKET_CAP, ("band", "bucket"))
            kept = (
                all_bands.join(F.broadcast(big), ["band", "bucket"], "left_anti")
                if big.head(1)
                else all_bands
            )
            d = kept.filter(F.col("doc_id") >= 2_000_000).alias("d")
            o = kept.alias("o")
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
            sh = shingles(
                release.unionByName(crawl_b).unionByName(crawl)
            )
            return {
                (r["new_id"], r["match_id"], r["jaccard"])
                for r in _jaccard_verify(cand, sh, "new_id", "match_id").collect()
            }

        via_append = probe(merged, crawl_c)
        via_rebuild = probe(bands(release.unionByName(crawl_b)), crawl_c)
        assert via_append == via_rebuild
        # and the probe actually found the planted cross-release dups
        matched = {(n, m) for (n, m, _) in via_append}
        assert (2_000_003, 3) in matched
        assert (2_000_050, 1_000_050) in matched
        assert all(n != 2_000_099 for (n, _) in matched)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _mk_vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, v array<double>")


def test_semantic_release_table_merge_equals_rebuild(spark):
    """Appending an admitted crawl's frozen-centroid cell assignments
    into the bucketed release table, then probing the NEXT crawl with
    the SAME frozen centroids, equals (a) a rebuild: assigning
    (release ∪ crawl) from scratch under those centroids, and (b) the
    next-crawl-only subset of a frozen-centroid FULL prune over all
    three corpora — so monthly semantic admission never re-clusters or
    re-shuffles the corpus."""
    from overturelink_data_pipeline_spark.operators.similarity import (
        _lloyd_assign,
        _lloyd_fit,
        incremental_cell_prune,
    )

    def base(i, eps=0.0):
        # three well-separated anchors + a jitter so cells are stable
        anchor = [(10.0, 0.0, 0.0), (0.0, 10.0, 0.0), (0.0, 0.0, 10.0)][i % 3]
        return [anchor[0] + eps, anchor[1] + 0.01 * i, anchor[2]]

    release = _mk_vecs(spark, [(i, base(i)) for i in range(12)])
    # crawl B: near-copy of release vec 4 (same cell, cosine ~1) + novel
    crawl_b = _mk_vecs(
        spark,
        [(1_000_004, base(4, eps=0.001)), (1_000_007, [5.0, 5.0, 0.0])],
    )
    # crawl C: near-copies of release vec 2, of B's novel vec, + fresh
    crawl_c = _mk_vecs(
        spark,
        [
            (2_000_002, base(2, eps=0.001)),
            (2_000_007, [5.0, 5.001, 0.0]),
            (2_000_099, [-7.0, 1.0, 1.0]),
        ],
    )

    cents = _lloyd_fit(release, k=3)  # the frozen release-time artifact

    tbl = "merge_sem_" + uuid.uuid4().hex[:8]
    try:
        _lloyd_assign(release, cents).write.bucketBy(4, "cl").sortBy(
            "cl"
        ).saveAsTable(tbl)
        _lloyd_assign(crawl_b, cents).write.bucketBy(4, "cl").sortBy(
            "cl"
        ).mode("append").saveAsTable(tbl)
        merged = spark.table(tbl)

        def rows(df):
            return {
                (r["cluster"], r["vec_id"], r["keeper_id"], r["cos_sim"])
                for r in df.collect()
            }

        delta_c = _lloyd_assign(crawl_c, cents)
        via_append = rows(incremental_cell_prune(merged, delta_c))
        via_rebuild = rows(
            incremental_cell_prune(
                _lloyd_assign(release.unionByName(crawl_b), cents), delta_c
            )
        )
        assert via_append == via_rebuild

        # (b) the probe equals the crawl-C subset of a frozen-centroid
        # FULL prune: feed an empty frozen side and the whole corpus as
        # "delta" (incremental_cell_prune's kernel then scores every
        # pair i<j, i.e. the full SemDeDup policy), keep only C rows
        all_assigned = _lloyd_assign(
            release.unionByName(crawl_b).unionByName(crawl_c), cents
        )
        empty_frozen = all_assigned.filter(F.lit(False))
        full = incremental_cell_prune(empty_frozen, all_assigned)
        full_c = rows(full.filter(F.col("vec_id") >= 2_000_000))
        assert via_append == full_c

        # the planted near-copies are pruned with the right keepers
        pruned = {v: k for (_, v, k, _) in via_append}
        assert pruned.get(2_000_002) == 2
        assert pruned.get(2_000_007) == 1_000_007
        assert 2_000_099 not in pruned
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_semantic_incremental_count_path(spark, sf_dir):
    """Regression (r8): with both cogroup sides built from the same
    in-plan corpus, Spark 4.1's dedup + column pruning under a
    no-output-columns consumer (count()) delivered the delta side
    with ONLY the grouping key — collect() worked, count() crashed in
    the kernel. incremental_cell_prune now re-projects both sides
    (fresh exprIds) so every consumer sees complete input; count()
    must agree with the collect() path's row count."""
    from overturelink_data_pipeline_spark.operators.similarity import (
        semantic_prune_incremental,
    )

    df = semantic_prune_incremental(spark, sf_dir)
    n_count = df.count()
    n_collect = len(semantic_prune_incremental(spark, sf_dir).collect())
    assert n_count == n_collect > 0


def test_state_provider_auto_selection(spark, sf_dir, monkeypatch):
    """VERDICT r7 ask #5: run_to_completion auto-selects the state
    store — RocksDB for wide per-key state, default provider for
    narrow-key state (the measured A/B in streaming/events.py's
    docstring) — with $SPARK_GRAFT_STATE_PROVIDER as the one override
    knob. The provider is physical-only: results are identical, and
    the session conf is restored afterward."""
    from overturelink_data_pipeline_spark.streaming.events import (
        DEFAULT_PROVIDER,
        ROCKSDB_PROVIDER,
        STATE_PROVIDER_ENV,
        _resolve_state_provider,
        read_event_stream,
        run_to_completion,
        windowed_event_counts,
    )

    # pure resolution logic
    monkeypatch.delenv(STATE_PROVIDER_ENV, raising=False)
    assert _resolve_state_provider(None, wide_state=True) == (
        "rocksdb",
        ROCKSDB_PROVIDER,
    )
    assert _resolve_state_provider(None, wide_state=False) == (
        "default",
        DEFAULT_PROVIDER,
    )
    assert _resolve_state_provider("rocksdb", wide_state=False)[0] == "rocksdb"
    monkeypatch.setenv(STATE_PROVIDER_ENV, "default")
    assert _resolve_state_provider(None, wide_state=True)[0] == "default"
    monkeypatch.setenv(STATE_PROVIDER_ENV, "rocksdb")
    assert _resolve_state_provider(None, wide_state=False)[0] == "rocksdb"
    monkeypatch.delenv(STATE_PROVIDER_ENV, raising=False)
    with pytest.raises(ValueError):
        _resolve_state_provider("levelDB", wide_state=False)

    # end-to-end: the same windowed rollup drained under both
    # providers yields identical rows, the applied provider is
    # recorded, and the session conf is restored
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(conf_key, None)
    agg = windowed_event_counts(read_event_stream(spark, sf_dir))
    narrow = run_to_completion(agg, spark, shuffle_partitions=4)
    assert run_to_completion.last_state_provider == "default"
    narrow_rows = sorted(map(tuple, narrow.collect()))

    agg2 = windowed_event_counts(read_event_stream(spark, sf_dir))
    wide = run_to_completion(
        agg2, spark, shuffle_partitions=4, wide_state=True
    )
    assert run_to_completion.last_state_provider == "rocksdb"
    assert sorted(map(tuple, wide.collect())) == narrow_rows
    assert spark.conf.get(conf_key, None) == before


def test_pq_centroids_match_pinned_fixture(spark, sf_dir):
    """ADVICE r7: ann_pq_topk's Lloyd update finishes driver-side with
    _round_half_away(sum/n, 6) — a different summation order AND
    rounding path than the oracle's ROUND(AVG(x), 6); the 1e-6 round
    absorbing the drift is what driver hash parity rests on. Pinning
    the post-update centroid VALUES (fixtures/pq_centroids/,
    scripts/gen_pq_centroid_fixture.py) makes a near-boundary flip
    attributable to this kernel instead of an opaque hash mismatch."""
    import json
    import os

    from overturelink_data_pipeline_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_lloyd_update,
    )
    from overturelink_data_pipeline_spark.session import read_table

    sf = os.path.basename(sf_dir.rstrip("/"))
    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "pq_centroids",
        f"{sf}.json",
    )
    if not os.path.exists(fix):
        pytest.skip(f"no pinned fixture for {sf}")
    with open(fix) as fh:
        pinned = json.load(fh)

    raw = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    init = sorted(
        raw.filter(F.col("vec_id") < PQ_K).collect(),
        key=lambda r: int(r["vec_id"]),
    )
    cents = [
        {
            int(r["vec_id"]): list(r["v"])[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            for r in init
        }
        for s in range(PQ_M)
    ]
    updated = _pq_lloyd_update(raw, cents)
    got = {
        f"{s}:{cl}": vals
        for s, book in enumerate(updated)
        for cl, vals in book.items()
    }
    assert got.keys() == pinned.keys()
    for key in pinned:
        assert got[key] == pinned[key], (
            f"centroid {key} drifted: {got[key]} != pinned {pinned[key]} — "
            "the update kernel's summation/rounding path changed"
        )


def test_weighted_keep_no_int64_overflow(spark):
    """ADVICE r7: the raw doc_id × 2654435761 product wraps int64
    above doc_id ≈ 3.47e9 (negative h admits every row); the 31-bit
    pre-mask keeps the hash in [0, WS_BUCKETS) at the 100 TB id range
    and matches an exact big-int Python reference — and is the
    identity below 2^31, so historical samples are unchanged."""
    from overturelink_data_pipeline_spark.operators.curation import (
        WS_BUCKETS,
        WS_CAP,
        WS_MIX,
        weighted_keep,
    )

    ids = [0, 1, 7, 2**31 - 1, 2**31, 3_470_000_000, 2**40 + 123, 2**62]
    docs = spark.createDataFrame(
        [(i, 1 + (i % WS_CAP)) for i in ids], "doc_id long, n_chars int"
    )
    got = {
        r["doc_id"]: r["kept"]
        for r in docs.select(
            "doc_id", weighted_keep().alias("kept")
        ).collect()
    }

    def ref(doc_id: int, n_chars: int) -> bool:
        h = ((doc_id % 2**31) * WS_MIX) % 4294967296 % WS_BUCKETS
        assert 0 <= h < WS_BUCKETS
        return h * WS_CAP < min(n_chars, WS_CAP) * WS_BUCKETS

    for i in ids:
        assert got[i] == ref(i, 1 + (i % WS_CAP)), f"doc_id {i}"
    # the predicate discriminates (not the wrapped-negative admit-all)
    assert set(got.values()) == {True, False}

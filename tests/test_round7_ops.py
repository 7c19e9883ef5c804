"""Round-7 operators beyond their oracles: dedup_incremental_minhash's
ordered-pair reporting contract, frozen-frozen exclusion, and the LSH
bucket-cap guard; sample_hash_audit's predicate exports."""

from __future__ import annotations

from pyspark.sql import functions as F

from overturelink_data_pipeline_spark import registry

registry.load_all()


def test_incremental_minhash_rows_are_delta_anchored(spark, sf_dir):
    """Every reported row must have a DELTA new_id (the per-new-doc
    admit decision reads only its own rows), and the planted 80%-prefix
    copies must surface their frozen originals at banding-limited
    recall (prefix jaccard ~0.67 -> per-band catch ~0.2, 8 bands ->
    ~0.83 expected; assert a loose floor, the exact pair set is pinned
    by the golden-parquet oracle in the driver gate)."""
    out = registry.QUERIES["dedup_incremental_minhash"](spark, sf_dir).collect()
    assert out, "no incremental minhash matches at all"
    assert all(r["new_id"] >= 1_000_000 for r in out)
    matched = {(r["new_id"], r["match_id"]) for r in out}
    from overturelink_data_pipeline_spark.operators.dedup import _prefix_corpus
    from overturelink_data_pipeline_spark.session import read_table

    delta_ids = [
        r["doc_id"]
        for r in _prefix_corpus(read_table(spark, sf_dir, "documents"))
        .filter(
            (F.col("doc_id") >= 1_000_000)
            & (F.size(F.split(F.trim("text"), r"\s+")) >= 30)
        )
        .select("doc_id")
        .collect()
    ]
    assert delta_ids, "fixture too small: no plantable delta docs"
    found = sum((d, d - 1_000_000) in matched for d in delta_ids)
    assert found >= 0.5 * len(delta_ids), (found, len(delta_ids))


def test_incremental_minhash_delta_delta_and_frozen_exclusion(spark, tmp_path):
    """Two identical docs arriving in the SAME delta report each other
    from both sides (identical signatures share every band bucket;
    jaccard exactly 1.0); identical FROZEN docs never surface — the
    probe's d-side is delta-only by construction."""
    from tests.test_round4_fixes import _write_docs

    text = " ".join(f"tok{i}" for i in range(40))
    other = " ".join(f"oth{i}" for i in range(40))
    # 7 and 14 hit the planted-copy modulus -> identical delta prefixes;
    # 1 and 2 are an identical FROZEN pair with no delta member
    rows = [
        (7, text, "en", "web"),
        (14, text, "en", "web"),
        (1, other, "en", "web"),
        (2, other, "en", "web"),
    ]
    d = _write_docs(tmp_path, rows)
    out = {
        (r["new_id"], r["match_id"]): r["jaccard"]
        for r in registry.QUERIES["dedup_incremental_minhash"](spark, d).collect()
    }
    assert (1000007, 1000014) in out and (1000014, 1000007) in out, sorted(out)
    assert out[(1000007, 1000014)] == 1.0
    assert all(n >= 1_000_000 for (n, _) in out), sorted(out)
    # the identical frozen pair is invisible to the incremental probe
    assert all({n, m} != {1, 2} for (n, m) in out), sorted(out)


def test_incremental_minhash_hot_bucket_suppressed(spark, tmp_path, monkeypatch):
    """A band bucket larger than BAND_BUCKET_CAP is non-discriminative
    boilerplate by definition: its candidates are skipped (the standard
    LSH cap recall trade, mirrored in the golden replica), while
    under-cap buckets keep matching in the same run."""
    from tests.test_round4_fixes import _write_docs

    from overturelink_data_pipeline_spark.operators import dedup

    text_a = " ".join(f"tok{i}" for i in range(40))
    text_b = " ".join(f"boil{i}" for i in range(40))
    rows = [(7, text_a, "en", "web"), (14, text_a, "en", "web")]
    # a 22-strong identical-text cluster; id 21 (multiple of 7) also
    # spawns a delta copy whose matches must be cap-suppressed
    hot_ids = [21] + [i for i in range(22, 50) if i % 7 != 0][:21]
    rows += [(i, text_b, "en", "web") for i in hot_ids]
    d = _write_docs(tmp_path, rows)
    monkeypatch.setattr(dedup, "BAND_BUCKET_CAP", 8)  # cluster is 22 > 8
    out = {
        (r["new_id"], r["match_id"])
        for r in registry.QUERIES["dedup_incremental_minhash"](spark, d).collect()
    }
    # the under-cap delta-delta pair still matches...
    assert (1000007, 1000014) in out and (1000014, 1000007) in out, sorted(out)
    # ...while the hot cluster's delta member reports nothing
    assert all(n != 1_000_021 for (n, _) in out), sorted(out)


def test_sample_hash_audit_predicates_match_rollup(spark, sf_dir):
    """The exported per-row predicates (stratified_keep, weighted_keep)
    must agree exactly with the audited counts — the kept-rows variant
    IS the same predicate as a filter."""
    from overturelink_data_pipeline_spark.operators.curation import (
        stratified_keep,
        weighted_keep,
    )
    from overturelink_data_pipeline_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    audited = registry.QUERIES["sample_hash_audit"](spark, sf_dir).collect()
    n_strat = sum(r["n_strat"] for r in audited)
    n_weight = sum(r["n_weight"] for r in audited)
    assert docs.filter(stratified_keep()).count() == n_strat
    assert docs.filter(weighted_keep()).count() == n_weight


def test_semantic_incremental_prunes_planted_copies(spark, sf_dir):
    """semantic_prune_incremental: every planted perturbed delta copy
    must be pruned against (w.h.p.) its frozen original — the frozen-
    only k-means fit still lands a near-identical copy in its
    original's cell — and only DELTA vectors may appear as pruned."""
    from overturelink_data_pipeline_spark.operators.similarity import (
        SEM_INCR_DELTA_MIN,
        SEMDEDUP_MODULUS,
        semantic_prune_incremental,
    )
    from overturelink_data_pipeline_spark.session import read_table

    out = semantic_prune_incremental(spark, sf_dir).collect()
    assert out, "no incremental semantic prunes at all"
    assert all(r["vec_id"] >= SEM_INCR_DELTA_MIN for r in out)
    pruned = {r["vec_id"]: r["keeper_id"] for r in out}
    donors = [
        r["vec_id"]
        for r in read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % SEMDEDUP_MODULUS == 0)
        .select("vec_id")
        .collect()
    ]
    assert donors
    hits = sum(
        pruned.get(d + SEM_INCR_DELTA_MIN) == d for d in donors
    )
    assert hits >= 0.9 * len(donors), (hits, len(donors))
    for r in out:
        assert r["cos_sim"] >= 0.9
        assert r["keeper_id"] < r["vec_id"]


def test_semantic_incremental_cell_prune_delta_only_cell(spark):
    """A cell with NO frozen members still prunes later-arriving delta
    vectors against earlier ones (the cogroup's frozen side is empty),
    and a lone dissimilar frozen vector never qualifies as keeper."""
    from overturelink_data_pipeline_spark.operators.similarity import (
        incremental_cell_prune,
    )

    va = [1.0] + [0.0] * 7
    vb = [0.0] * 7 + [1.0]
    frozen = spark.createDataFrame(
        [(0, 1, va)], "cl long, vec_id long, v array<double>"
    )
    delta = spark.createDataFrame(
        [(0, 1000005, vb), (0, 1000009, vb), (1, 1000011, va)],
        "cl long, vec_id long, v array<double>",
    )
    rows = {r["vec_id"]: r for r in incremental_cell_prune(frozen, delta).collect()}
    # later identical delta pruned by the earlier one, not by frozen
    assert set(rows) == {1000009}
    assert rows[1000009]["keeper_id"] == 1000005
    assert rows[1000009]["cos_sim"] == 1.0
    assert rows[1000009]["cluster"] == 0


def test_semantic_incremental_oracle_parity(spark):
    """semantic_prune_incremental vs its staged DuckDB oracle
    (SEM_INCR_ORACLE) through the driver's exact gate — rows + sorted
    schema + order-insensitive value hash — at both driver SFs, so
    round-8 registration is a wrapper, not a verification event."""
    from overturelink_data_pipeline_spark.operators.similarity import (
        SEM_INCR_ORACLE,
        semantic_prune_incremental,
    )
    from overturelink_data_pipeline_spark.testing import compare, duckdb_connect

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        duck = duckdb_connect(sf_dir)
        r = compare(
            "semantic_incremental",
            semantic_prune_incremental(spark, sf_dir),
            duck.sql(SEM_INCR_ORACLE).df(),
        )
        assert r.rows_match and r.schema_match and r.hash_match, (sf_dir, r)


def test_incremental_index_merge_equals_rebuild(spark, tmp_path):
    """The monthly lifecycle COMPOSES: appending an admitted crawl's
    postings into the bucketed release index (insert-into, same bucket
    spec) then probing the next crawl gives exactly the matches of a
    from-scratch rebuild over (release ∪ crawl). This is the property
    that lets a 100 TB index be maintained by appends instead of
    monthly rebuilds."""
    import uuid

    from overturelink_data_pipeline_spark.operators.dedup import (
        _incremental_probe,
        _postings as posts,
    )

    def mk_docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    body = lambda tag, n=30: " ".join(f"{tag}{i}" for i in range(n))
    release = mk_docs([(i, body(f"a{i}")) for i in range(1, 11)] + [(11, body("dup"))])
    # crawl B: one dup of release doc 11, one novel doc
    crawl_b = mk_docs([(1_000_011, body("dup")), (1_000_050, body("nov"))])
    # crawl C: dups of release doc 3, of B's novel doc, and a fresh doc
    crawl_c = mk_docs(
        [
            (2_000_003, body("a3")),
            (2_000_050, body("nov")),
            (2_000_099, body("zz")),
        ]
    )

    tbl = "merge_post_" + uuid.uuid4().hex[:8]
    try:
        # release-time write + APPEND of crawl B (same bucket spec)
        posts(release).write.bucketBy(4, "h").sortBy("h").saveAsTable(tbl)
        posts(crawl_b).write.bucketBy(4, "h").sortBy("h").mode("append").saveAsTable(tbl)
        merged = spark.table(tbl)

        def probe(index_post, crawl):
            return {
                (r["new_id"], r["match_id"], r["jaccard"])
                for r in _incremental_probe(index_post, posts(crawl), hot=None).collect()
            }

        via_append = probe(merged, crawl_c)
        via_rebuild = probe(posts(release.unionByName(crawl_b)), crawl_c)
        assert via_append == via_rebuild
        # and the probe actually found the planted cross-release dups
        matched = {(n, m) for (n, m, _) in via_append}
        assert (2_000_003, 3) in matched
        assert (2_000_050, 1_000_050) in matched
        assert all(n != 2_000_099 for (n, _) in matched)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

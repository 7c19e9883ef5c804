"""Round-6 operators beyond their DuckDB oracles: dedup_incremental's
planted cross-snapshot semantics, the per-new-doc reporting contract,
and the df-cap + exact add-back under a boilerplate-heavy frozen
corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from overturelink_data_pipeline_spark import registry

registry.load_all()


def test_incremental_finds_planted_snapshot_dups(spark, sf_dir):
    """Every delta doc (the 80%-prefix 'new crawl') must match its
    frozen original, and every reported row must be delta-anchored."""
    out = registry.QUERIES["dedup_incremental"](spark, sf_dir).collect()
    assert out, "no incremental matches at all"
    assert all(r["new_id"] >= 1_000_000 for r in out)
    matched = {(r["new_id"], r["match_id"]) for r in out}
    # the planted copies: doc_id % 7 == 0 originals, >= 3 tokens in the
    # 80% prefix — each must surface its own original as a match
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
    # an 80% token prefix of an n-token doc shares ~0.8n shingles →
    # jaccard ~0.8/(1.2) ≈ 0.66 > 0.5 for all but degenerate docs
    assert found >= 0.9 * len(delta_ids), (found, len(delta_ids))


def test_incremental_delta_delta_reported_from_both_sides(spark, tmp_path):
    """Two near-identical docs arriving in the SAME delta must each
    report the other (ordered-pair contract: the per-new-doc
    admit/reject decision reads only its own rows)."""
    from tests.test_round4_fixes import _write_docs

    text = " ".join(f"tok{i}" for i in range(40))
    # ids 7 and 14 hit the planted-copy modulus → both spawn delta
    # copies 1000007/1000014 that are 80% prefixes of the SAME text
    rows = [
        (7, text, "en", "web"),
        (14, text, "en", "web"),
        (3, " ".join(f"other{i}" for i in range(40)), "en", "web"),
    ]
    d = _write_docs(tmp_path, rows)
    out = {
        (r["new_id"], r["match_id"]): r["jaccard"]
        for r in registry.QUERIES["dedup_incremental"](spark, d).collect()
    }
    # both directions of the delta-delta pair, both frozen originals
    for pair in [
        (1000007, 1000014),
        (1000014, 1000007),
        (1000007, 7),
        (1000014, 14),
    ]:
        assert pair in out, (pair, sorted(out))
    # identical prefixes → jaccard exactly 1.0 between the two deltas
    assert out[(1000007, 1000014)] == 1.0
    # unrelated doc 3 has no delta copy and matches nothing
    assert all(m != 3 for (_, m) in out)


def test_incremental_df_cap_addback_exact(spark, tmp_path, monkeypatch):
    """With a boilerplate shingle run over the cap, surviving matches
    must report the TRUE full-set jaccard (hot shingles re-added), and
    a pair overlapping ONLY in boilerplate stays suppressed."""
    from tests.test_round4_fixes import _write_docs

    from overturelink_data_pipeline_spark.operators import dedup

    boiler = " ".join(f"bw{i}" for i in range(6))  # 4 hot 3-gram shingles
    # doc 7 spawns a delta copy; its prefix shares real content with
    # frozen doc 1 AND the boilerplate footer carried by everyone
    body = " ".join(f"body{i}" for i in range(30))
    rows = [(7, f"{body} {boiler}", "en", "web"), (1, f"{body} {boiler}", "en", "web")]
    # 10 unrelated frozen docs that share ONLY the boilerplate footer
    # (ids dodge 7's slot and the planted-copy modulus)
    rows += [
        (i, " ".join(f"u{i}x{j}" for j in range(25)) + " " + boiler, "en", "web")
        for i in (2, 3, 4, 5, 6, 8, 9, 10, 11, 12)
    ]
    d = _write_docs(tmp_path, rows)
    monkeypatch.setattr(dedup, "NGRAM_DF_CAP", 6)  # boiler shingles df≈13 > 6

    def shingles(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    import math

    delta_text = rows[0][1]
    prefix = delta_text[: math.floor(len(delta_text) * 0.8)]
    true_jac = len(shingles(prefix) & shingles(rows[1][1])) / len(
        shingles(prefix) | shingles(rows[1][1])
    )
    out = {
        (r["new_id"], r["match_id"]): r["jaccard"]
        for r in registry.QUERIES["dedup_incremental"](spark, d).collect()
    }
    assert (1000007, 1) in out, sorted(out)
    assert abs(out[(1000007, 1)] - round(true_jac, 6)) < 1e-9
    # boilerplate-only frozen docs never surface as matches
    assert all(m in (1, 7) for (_, m) in out), sorted(out)

"""Property tests for the round-4 operators (sample_reservoir,
dedup_exact_substring, embedding_pca_power) beyond their DuckDB
oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark import registry
from overturelink_data_pipeline_spark.session import read_table

registry.load_all()


def test_sample_reservoir_exact_k_per_source(spark, sf_dir):
    from overturelink_data_pipeline_spark.operators.curation import RESERVOIR_K

    out = registry.QUERIES["sample_reservoir"](spark, sf_dir).toPandas()
    pop = (
        read_table(spark, sf_dir, "documents")
        .groupBy("source")
        .count()
        .toPandas()
        .set_index("source")["count"]
    )
    got = out.groupby("source").size()
    for source, n in got.items():
        assert n == min(RESERVOIR_K, pop[source]), source
    # ranks are 1..k dense per source
    assert (out.groupby("source")["rk"].max() == got).all()
    # deterministic: a second run returns the identical sample
    again = registry.QUERIES["sample_reservoir"](spark, sf_dir).toPandas()
    assert out.equals(again)


def test_exact_substring_finds_every_planted_quote(spark, sf_dir):
    from overturelink_data_pipeline_spark.operators.dedup import (
        SUBSTR_MODULUS,
        SUBSTR_W,
    )

    rows = registry.QUERIES["dedup_exact_substring"](spark, sf_dir).collect()
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"] for r in rows}
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = 0
    for r in docs:
        if r["doc_id"] % SUBSTR_MODULUS != 0:
            continue
        toks = r["text"].split()
        quoted = toks[5:25]  # the 20-token slice the plant embeds
        if len(quoted) >= SUBSTR_W:
            expected += 1
            key = (r["doc_id"], r["doc_id"] + 1_000_000)
            assert key in pairs, f"planted quote not found for {key}"
            # 20-token run shares 20 - W + 1 windows (when all distinct)
            assert pairs[key] <= len(quoted) - SUBSTR_W + 1
    assert expected > 0, "fixture too small: no plantable quotes"


def test_exact_substring_df_cap_bounds_boilerplate(spark, tmp_path, monkeypatch):
    """A 15-token run shared by MANY docs (footer boilerplate) must not
    generate quadratic candidates once over the cap."""
    from tests.test_round4_fixes import _write_docs

    from overturelink_data_pipeline_spark.operators import dedup

    boiler = " ".join(f"w{i}" for i in range(20))
    rows = [(i, f"u{i}a u{i}b " + boiler + f" u{i}c", "en", "web") for i in range(30)]
    rows += [(100 + i, f"unique text {i} " + " ".join(f"z{i}{j}" for j in range(20)), "en", "web") for i in range(5)]
    d = _write_docs(tmp_path, rows)
    monkeypatch.setattr(dedup, "SUBSTR_DF_CAP", 8)
    out = registry.QUERIES["dedup_exact_substring"](spark, d).collect()
    # the 30-doc boilerplate clique (435 pairs uncapped) is suppressed
    boiler_pairs = [r for r in out if r["id_a"] < 30 and r["id_b"] < 30]
    assert len(boiler_pairs) == 0


def test_pca_power_component_is_dominant_direction(spark, sf_dir):
    import math

    out = registry.QUERIES["embedding_pca_power"](spark, sf_dir).collect()
    comp = [r["component"] for r in sorted(out, key=lambda r: r["dim"])]
    eig = out[0]["eigenvalue"]
    assert eig > 0
    # unit norm (up to the 1e-6 rounding of components)
    assert abs(math.sqrt(sum(c * c for c in comp)) - 1.0) < 1e-4
    # Rayleigh quotient of the returned direction beats a fixed
    # arbitrary direction by a clear margin (dominance sanity)
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    def rayleigh(direction):
        d = F.array(*[F.lit(float(x)) for x in direction])
        s = F.aggregate(
            F.zip_with("v", d, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        return emb.select(F.sum(s * s).alias("q")).collect()[0]["q"]

    alt = [0.0] * len(comp)
    alt[0] = 1.0
    assert rayleigh(comp) > rayleigh(alt)


def test_containment_finds_planted_fragments(spark, sf_dir):
    from overturelink_data_pipeline_spark.operators.dedup import (
        CONTAIN_MODULUS,
        CONTAIN_TAU,
    )

    rows = registry.QUERIES["text_minhash_containment"](spark, sf_dir).collect()
    pairs = {(r["id_a"], r["id_b"]): r["containment"] for r in rows}
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    found = 0
    for r in docs:
        if r["doc_id"] % CONTAIN_MODULUS != 0:
            continue
        n = len(r["text"].split())
        frag = r["text"].split()[int(n * 0.3) : int(n * 0.3) + int(n * 0.4)]
        if len(frag) >= 3:  # fragment has shingles at all
            key = (r["doc_id"], r["doc_id"] + 1_000_000)
            if key in pairs:
                found += 1
                assert pairs[key] >= CONTAIN_TAU
    assert found > 0, "no planted fragment detected"
    for c in pairs.values():
        assert 0 < c <= 1.0 + 1e-9


def test_count_min_estimates_dominate_exact(spark, sf_dir):
    rows = registry.QUERIES["agg_count_min_tokens"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        # the CMS invariant: estimates never undercount
        assert r["est_count"] >= r["exact_count"] > 0
    # descending by estimate
    ests = [r["est_count"] for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_session_window_consistent_with_batch_sessions(spark, sf_dir):
    """Built-in session_window (µs precision) and the batch
    sessionizer (second-floored) must agree on the session COUNT for
    users whose gaps are nowhere near the boundary — here just sanity:
    emitted sessions are disjoint per user and each covers its events."""
    rows = registry.QUERIES["stream_session_window"](spark, sf_dir).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["session_start_us"], r["session_end_us"], r["n_events"])
        )
    for user, sess in by_user.items():
        sess.sort()
        for (s1, e1, n1), (s2, e2, n2) in zip(sess, sess[1:]):
            assert e1 <= s2, f"overlapping sessions for {user}"
        for s, e, n in sess:
            assert n >= 1 and e - s >= 30 * 60 * 1_000_000  # end = last + gap


def test_hll_estimate_within_sketch_error(spark, sf_dir):
    """256-register HLL has ~6.5% standard error; allow 3 sigma."""
    # direct call: deregistered in the r8 agg_sketch_audit merge, but
    # the accuracy property stays pinned here
    from overturelink_data_pipeline_spark.operators.analytics import (
        agg_hll_distinct_users,
    )

    rows = agg_hll_distinct_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["exact_distinct"] > 0
        rel = abs(r["est_distinct"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel < 0.2, f"{r['event_type']}: {rel:.3f} relative error"


def test_posting_pairs_matches_bruteforce_reference(spark):
    """Property: _posting_pairs over the _over_cap_keys census == the
    self-join reference on random posting tables, in both plain and
    payload mode, for a one-column and a two-column posting key."""
    import itertools
    import random

    from overturelink_data_pipeline_spark.operators.dedup import (
        _over_cap_keys,
        _posting_pairs,
    )

    rng = random.Random(7)
    h_rows = [
        (doc, f"h{rng.randint(0, 40)}")
        for doc in range(60)
        for _ in range(rng.randint(1, 6))
    ]
    # band-table shape: a doc holds one bucket per band, and the same
    # bucket value in two bands is two different keys
    band_rows = [
        (doc, band, rng.randint(0, 12)) for doc in range(60) for band in range(4)
    ]
    cap = 9
    for keys, rows, hot, schema in [
        (("h",), h_rows, ("hot",), "doc_id long, h string"),
        (("band", "bucket"), band_rows, (1, 99), "doc_id long, band int, bucket int"),
    ]:
        # plant a hot key ABOVE the cap so the census/anti-join guard is
        # exercised in both modes (seed 7's natural h keys all sit below it)
        rows = list(set(rows)) + [(900 + i, *hot) for i in range(12)]
        df = spark.createDataFrame(rows, schema)
        # reference: per-key doc sets, pairs from keys with 2..cap docs
        by_key: dict = {}
        for doc, *key in rows:
            by_key.setdefault(tuple(key), set()).add(doc)
        want = sorted(
            (a, b)
            for docs in by_key.values()
            if 2 <= len(docs) <= cap
            for a, b in itertools.combinations(sorted(docs), 2)
        )
        big = _over_cap_keys(df, cap, keys)
        assert hot in {tuple(r) for r in big.collect()}
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in _posting_pairs(df, big, keys=keys).collect()
        )
        assert got == want
        # payload mode: same pairs, each side carrying its payload value
        dfp = df.withColumn("n", (F.col("doc_id") * 10).cast("long"))
        gotp = sorted(
            (r["id_a"], r["pa"], r["id_b"], r["pb"])
            for r in _posting_pairs(dfp, big, payload="n", keys=keys).collect()
        )
        assert gotp == sorted((a, a * 10, b, b * 10) for a, b in want)


def test_streaming_validator_roundtrip_fuzz(spark, tmp_path):
    """Random FeatureCollections round-trip through write_geojson
    (validator counts exactly; corrupted tails raise)."""
    import random

    from pyspark.sql import Row

    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.sinks.geojson import (
        validate_geojson,
        write_geojson,
    )

    rng = random.Random(11)
    for trial in range(3):
        # trial 0 pins the empty-FeatureCollection fast path explicitly
        n = 0 if trial == 0 else rng.randint(1, 12)
        rows = [
            Row(
                id=str(i),
                note=rng.choice(['he said "features":[', "plain", '{"type":"Feature"']),
                geometry=bytearray(
                    W.dumps(("Point", (rng.uniform(-180, 180), rng.uniform(-90, 90))))
                ),
            )
            for i in range(n)
        ]
        out = str(tmp_path / f"fz{trial}.geojson")
        if n == 0:
            df = spark.createDataFrame(
                [], "id string, note string, geometry binary"
            )
        else:
            df = spark.createDataFrame(rows)
        meta = {"trial": trial, "decoy": '{"type":"Feature"'}
        assert write_geojson(df, out, metadata=meta) == n
        validate_geojson(out, n)
        # chop the tail -> must raise
        raw = open(out).read()
        with open(out, "w") as f:
            f.write(raw[:-2])
        with pytest.raises(ValueError):
            validate_geojson(out, n)


def test_sampled_quantile_tracks_exact_median(spark, sf_dir):
    """K=199 hash-reservoir median lands within ~3/sqrt(K) quantile
    error of the exact population median (loose 3-sigma band on the
    value scale via the exact p25-p75 spread)."""
    # direct call: deregistered in the r8 agg_sketch_audit merge, but
    # the accuracy property stays pinned here
    from overturelink_data_pipeline_spark.operators.analytics import (
        agg_quantile_sampled,
    )

    rows = agg_quantile_sampled(spark, sf_dir).collect()
    assert rows
    li = read_table(spark, sf_dir, "lineitem")
    for r in rows:
        grp = li.filter(F.col("l_returnflag") == r["l_returnflag"])
        q25, q50, q75 = grp.approxQuantile("l_extendedprice", [0.25, 0.5, 0.75], 0.001)
        spread = max(q75 - q25, 1.0)
        assert abs(r["est_p50"] - q50) < spread, (
            f"{r['l_returnflag']}: est {r['est_p50']} vs exact {q50}"
        )


def test_exact_substring_hot_window_addback(spark, tmp_path, monkeypatch):
    """With the cap firing, surviving pairs must still report the TRUE
    full shared-window count (hot shares re-added at the pair stage),
    and the boilerplate-only clique stays suppressed."""
    from tests.test_round4_fixes import _write_docs

    from overturelink_data_pipeline_spark.operators.dedup import (
        SUBSTR_MODULUS,
        SUBSTR_W,
    )
    from overturelink_data_pipeline_spark.operators import dedup

    hot = " ".join(f"hot{i}" for i in range(SUBSTR_W))  # one exact hot window
    shared = " ".join(f"shr{i}" for i in range(SUBSTR_W))
    # doc ids chosen to dodge the planted-quote modulus
    ids = [1, 2, 3, 4]
    assert all(i % SUBSTR_MODULUS != 0 for i in ids)
    rows = [
        (1, f"ua1 ua2 {hot} um1 um2 {shared} uz1", "en", "web"),
        (2, f"ub1 ub2 {hot} un1 un2 {shared} uz2", "en", "web"),
        (3, f"uc1 uc2 {hot} uo1 uo2 uc3 uc4", "en", "web"),
        (4, f"ud1 ud2 {hot} up1 up2 ud3 ud4", "en", "web"),
    ]
    d = _write_docs(tmp_path, rows)
    monkeypatch.setattr(dedup, "SUBSTR_DF_CAP", 3)  # hot window df=4 > cap

    def windows(text):
        t = text.split()
        return {
            " ".join(t[i : i + SUBSTR_W])
            for i in range(len(t) - SUBSTR_W + 1)
        }

    full = {i: windows(r[1]) for i, r in zip(ids, rows)}
    out = {(r["id_a"], r["id_b"]): r["n_shared"]
           for r in registry.QUERIES["dedup_exact_substring"](spark, d).collect()}
    # (1,2) share hot AND cold windows: survives via cold, n_shared = FULL overlap
    assert (1, 2) in out
    assert out[(1, 2)] == len(full[1] & full[2])
    assert out[(1, 2)] > 1  # proves hot shares were added back
    # (3,4) share ONLY the hot window: suppressed (declared trade)
    assert (3, 4) not in out


def test_containment_hot_shingle_addback(spark, tmp_path, monkeypatch):
    """When the shingle cap fires, containment must still use the TRUE
    intersection (hot shares re-added) — denominators always counted
    hot shingles, so without the add-back capped corpora under-report."""
    from tests.test_round4_fixes import _write_docs

    from overturelink_data_pipeline_spark.operators import dedup
    from overturelink_data_pipeline_spark.operators.dedup import CONTAIN_MODULUS

    boiler = " ".join(f"bw{i}" for i in range(6))  # 4 hot 3-gram shingles
    ids = [1, 2, 3, 4, 5]
    assert all(i % CONTAIN_MODULUS != 0 for i in ids)
    rows = [
        # 1 and 2: the fragment relationship PLUS the boilerplate
        (1, f"{boiler} s1 s2 s3 s4 s5 s6 s7 s8", "en", "web"),
        (2, f"{boiler} s1 s2 s3 s4 s5 s6 s7 s8 extra1 extra2 extra3 extra4 extra5 extra6 extra7 extra8", "en", "web"),
        # 3-5: boilerplate only + unique tails (push shingle df over cap)
        (3, f"{boiler} u31 u32 u33 u34", "en", "web"),
        (4, f"{boiler} u41 u42 u43 u44", "en", "web"),
        (5, f"{boiler} u51 u52 u53 u54", "en", "web"),
    ]
    d = _write_docs(tmp_path, rows)
    monkeypatch.setattr(dedup, "NGRAM_DF_CAP", 4)  # boiler shingles df=5 > 4

    def shingles(text):
        t = text.split()
        return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}

    sh = {i: shingles(r[1]) for i, r in zip(ids, rows)}
    want_contain = len(sh[1] & sh[2]) / min(len(sh[1]), len(sh[2]))
    assert want_contain >= 0.8  # fixture sanity
    out = {(r["id_a"], r["id_b"]): r["containment"]
           for r in registry.QUERIES["text_minhash_containment"](spark, d).collect()}
    assert (1, 2) in out
    assert abs(out[(1, 2)] - round(want_contain, 6)) < 1e-9
    # the declared negative trade: pairs whose ENTIRE overlap is the
    # hot boilerplate never materialize (only hot shingles shared)
    for a, b in [(3, 4), (3, 5), (4, 5), (1, 3), (2, 4)]:
        assert (a, b) not in out, f"boiler-only pair ({a},{b}) leaked"

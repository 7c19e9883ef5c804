"""Round-4 fixes: phash hot-bucket cap, streaming GeoJSON validation,
polygon-memo invalidation, shapefile empty-ring handling, publish
chunk-size probe-up."""

from __future__ import annotations

import json
import struct

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark import registry
from overturelink_data_pipeline_spark.geo import wkb as W

registry.load_all()


# ---------------------------------------------------------------------------
# mm_dedup_phash hot-bucket cap (VERDICT r3 ask #2)
# ---------------------------------------------------------------------------


def _write_docs(tmp_path, rows):
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)")
    for r in rows:
        con.execute("INSERT INTO d VALUES (?, ?, ?, ?, ?)", [*r, len(r[1])])
    dst = str(tmp_path / "documents.parquet")
    con.sql(f"COPY d TO '{dst}' (FORMAT PARQUET)")
    return str(tmp_path)


@pytest.fixture()
def hot_asset_dir(tmp_path):
    """40 media payloads: 30 byte-identical (one ubiquitous asset) +
    10 unique."""
    rows = [(i, "the ubiquitous default thumbnail asset", "en", "web") for i in range(30)]
    rows += [(100 + i, f"unique document number {i} with distinct words {i}", "en", "web") for i in range(10)]
    return _write_docs(tmp_path, rows)


def test_phash_hot_bucket_star_path(spark, hot_asset_dir, monkeypatch):
    """Over-cap buckets emit star pairs: O(cluster) candidates, full
    cluster still connected through the bucket-min member."""
    from overturelink_data_pipeline_spark.operators import multimodal

    monkeypatch.setattr(multimodal, "MM_BAND_BUCKET_CAP", 8)
    rows = registry.QUERIES["mm_dedup_phash"](spark, hot_asset_dir).collect()
    hot_ids = set(range(30)) | {
        i + 1_000_000 for i in range(30) if i % multimodal.MM_DUP_MODULUS == 0
    }
    hot_pairs = [r for r in rows if r["id_a"] in hot_ids or r["id_b"] in hot_ids]
    d = len(hot_ids)
    n_reenc = sum(1 for i in range(30) if i % multimodal.MM_DUP_MODULUS == 0)
    # bounded: star pairs for over-cap buckets plus at most the small
    # re-encoding sub-bucket's cold clique — NOT the d²/2 full clique
    assert len(hot_pairs) <= (d - 1) + n_reenc * (n_reenc - 1) // 2
    assert len(hot_pairs) < d * (d - 1) // 2
    # full cluster coverage: every hot member is connected to the
    # cluster minimum through the emitted pairs (what downstream
    # connected-components consumes)
    parent = {i: i for i in hot_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in hot_pairs:
        if r["id_a"] in parent and r["id_b"] in parent:
            parent[find(r["id_a"])] = find(r["id_b"])
    roots = {find(i) for i in hot_ids}
    assert len(roots) == 1, f"hot cluster fragmented into {len(roots)} components"


def test_phash_cap_idle_on_natural_corpus_matches_bruteforce(spark, hot_asset_dir):
    """With the default cap (never fires at this scale on the identical
    cluster? it does fire — so run UNCAPPED) the banded plan equals the
    brute-force clique."""
    from overturelink_data_pipeline_spark.operators import multimodal

    old = multimodal.MM_BAND_BUCKET_CAP
    multimodal.MM_BAND_BUCKET_CAP = 10**9
    try:
        rows = registry.QUERIES["mm_dedup_phash"](spark, hot_asset_dir).collect()
    finally:
        multimodal.MM_BAND_BUCKET_CAP = old
    hot_ids = sorted(
        set(range(30))
        | {i + 1_000_000 for i in range(30) if i % multimodal.MM_DUP_MODULUS == 0}
    )
    d = len(hot_ids)
    hot_pairs = {
        (r["id_a"], r["id_b"])
        for r in rows
        if r["id_a"] in set(hot_ids) and r["id_b"] in set(hot_ids)
    }
    # identical payloads (and their identical-to-each-other re-encodings
    # within hamming) form the full clique when uncapped
    assert len(hot_pairs) == d * (d - 1) // 2


# ---------------------------------------------------------------------------
# GeoJSON validation
# ---------------------------------------------------------------------------


def test_stream_validation_not_fooled_by_nested_feature_lookalike(spark, tmp_path):
    """A property that serializes to '[{"type":"Feature"...' inside a
    feature must not be over-counted."""
    from overturelink_data_pipeline_spark.sinks.geojson import write_geojson

    pt = W.dumps(("Point", (1.0, 2.0)))
    df = spark.createDataFrame(
        [
            Row(
                id=str(i),
                parts=[Row(type="FeatureLike", n=i)],
                geometry=bytearray(pt),
            )
            for i in range(5)
        ],
        "id string, parts array<struct<type string, n int>>, geometry binary",
    )
    out = str(tmp_path / "nested.geojson")
    n = write_geojson(df, out)  # old counter would see 10
    assert n == 5
    # and the file itself is well-formed
    doc = json.load(open(out))
    assert len(doc["features"]) == 5


def test_stream_validation_catches_truncation(tmp_path):
    from overturelink_data_pipeline_spark.sinks.geojson import (
        validate_geojson,
    )

    good = (
        '{"type":"FeatureCollection","features":['
        '{"type":"Feature","geometry":null,"properties":{}},'
        '{"type":"Feature","geometry":null,"properties":{}}]}'
    )
    p = tmp_path / "t.geojson"
    p.write_text(good)
    validate_geojson(str(p), 2)
    p.write_text(good[:-8])  # truncate mid-feature
    with pytest.raises(ValueError):
        validate_geojson(str(p), 2)


def test_stream_validation_metadata_with_decoy_keys(tmp_path):
    from overturelink_data_pipeline_spark.sinks.geojson import (
        validate_geojson,
    )

    doc = (
        '{"type":"FeatureCollection",'
        '"metadata":{"note":"contains \\"features\\":[ and {\\"type\\":\\"Feature\\" decoys"},'
        '"features":[{"type":"Feature","geometry":null,"properties":{}}]}'
    )
    p = tmp_path / "m.geojson"
    p.write_text(doc)
    validate_geojson(str(p), 1)


# ---------------------------------------------------------------------------
# Polygon memo invalidation (ADVICE #2)
# ---------------------------------------------------------------------------


def test_polygon_memo_key_tracks_dump_sidecar(tmp_path):
    from overturelink_data_pipeline_spark.plans import compile as C

    base = tmp_path / "dump"
    side_dir = base / "theme=divisions"
    side_dir.mkdir(parents=True)
    side = side_dir / "_dump_metadata.json"
    side.write_text(json.dumps({"release": "2025-01", "complete": True}))
    k1 = C._divisions_snapshot(str(base))
    assert k1 is not None and k1[0] == "2025-01"
    # rewrite (new release) → different snapshot → different memo key
    side.write_text(json.dumps({"release": "2025-06", "complete": True}))
    k2 = C._divisions_snapshot(str(base))
    assert k2 != k1 and k2[0] == "2025-06"
    # non-dump base_dir → None (raw sources immutable per release)
    assert C._divisions_snapshot(str(tmp_path / "nope")) is None


# ---------------------------------------------------------------------------
# Shapefile empty-ring handling (ADVICE #4) + shared is_empty (ADVICE #3)
# ---------------------------------------------------------------------------


def test_polygon_with_mixed_empty_rings_drops_empty_ring(spark, tmp_path):
    from overturelink_data_pipeline_spark.sinks.shapefile import write_shapefile

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    poly_mixed = W.dumps(("Polygon", [ring, []]))  # one real + one empty ring
    df = spark.createDataFrame(
        [Row(id="a", geometry=bytearray(poly_mixed))], "id string, geometry binary"
    )
    shp = str(tmp_path / "mixed.shp")
    assert write_shapefile(df, shp) == 1
    raw = open(shp, "rb").read()
    # record header (8B) then shape type 5 at offset 100
    shape_type = struct.unpack("<i", raw[108:112])[0]
    assert shape_type == 5
    num_parts, num_points = struct.unpack("<2i", raw[144:152])
    assert num_parts == 1  # the empty ring was filtered, not emitted
    assert num_points == 5


def test_polygon_all_empty_rings_is_null_shape(spark, tmp_path):
    from overturelink_data_pipeline_spark.geo import geom as G
    from overturelink_data_pipeline_spark.sinks.shapefile import write_shapefile

    assert G.is_empty(("Polygon", [[], []]))
    poly_empty = W.dumps(("Polygon", [[], []]))
    df = spark.createDataFrame(
        [Row(id="a", geometry=bytearray(poly_empty))], "id string, geometry binary"
    )
    shp = str(tmp_path / "empty.shp")
    assert write_shapefile(df, shp) == 1
    raw = open(shp, "rb").read()
    assert struct.unpack("<i", raw[108:112])[0] == 0  # Null Shape


def test_fgb_imports_shared_is_empty():
    from overturelink_data_pipeline_spark.geo.geom import is_empty
    from overturelink_data_pipeline_spark.sinks import fgb

    assert fgb._is_empty is is_empty


# ---------------------------------------------------------------------------
# Publish chunk-size probe-up (ADVICE #5)
# ---------------------------------------------------------------------------


def test_append_adaptive_probes_back_up():
    from overturelink_data_pipeline_spark.sinks.publish import (
        _PROBE_UP_AFTER,
        MockFeatureService,
        _append_adaptive,
    )

    class OneTime413(MockFeatureService):
        """Rejects the FIRST oversized append only — an anomalous batch."""

        def __init__(self):
            super().__init__()
            self.rejected = False

        def append(self, rows):
            if not self.rejected and len(rows) > 50:
                self.rejected = True
                from overturelink_data_pipeline_spark.sinks.publish import (
                    PayloadTooLarge,
                )

                raise PayloadTooLarge("anomaly")
            super().append(rows)

    from overturelink_data_pipeline_spark.sinks.publish import _AdaptiveState

    svc = OneTime413()
    batch = [{"i": i} for i in range(2000)]
    st = _append_adaptive(
        svc, batch, floor=10, state=_AdaptiveState(limit=100), ceiling=100
    )
    # halved to 50 once, then after _PROBE_UP_AFTER successes doubled back
    sizes = [n for op, n in svc.calls if op == "append"]
    assert 50 in sizes
    assert st.limit == 100  # recovered to the ceiling
    assert sizes[-1] == 100 or sizes[-2] == 100
    assert sum(sizes) == 2000
    assert _PROBE_UP_AFTER >= 2  # guard against accidental per-success doubling


def test_append_adaptive_streak_carries_across_batches():
    """The review scenario: batches small enough that a reduced size
    fits only 2 chunks per batch — the streak must accumulate ACROSS
    _append_adaptive calls or the size stays halved forever."""
    from overturelink_data_pipeline_spark.sinks.publish import (
        _PROBE_UP_AFTER,
        MockFeatureService,
        PayloadTooLarge,
        _append_adaptive,
    )

    class OneTime413(MockFeatureService):
        def __init__(self):
            super().__init__()
            self.rejected = False

        def append(self, rows):
            if not self.rejected and len(rows) > 50:
                self.rejected = True
                raise PayloadTooLarge("anomaly")
            super().append(rows)

    from overturelink_data_pipeline_spark.sinks.publish import _AdaptiveState

    svc = OneTime413()
    st = _AdaptiveState()
    batches = [[{"i": i} for i in range(100)] for _ in range(6)]
    for b in batches:
        st = _append_adaptive(svc, b, floor=10, state=st, ceiling=100)
    # after the one 413 (100 -> 50), 2 chunks/batch accumulate the
    # streak across calls and the limit probes back up to the ceiling
    assert st.limit == 100, f"limit stuck at {st.limit}"


def test_short_batch_does_not_become_learned_limit():
    """r4 review: a 1-row seed remainder appending cleanly must not be
    mistaken for a learned limit that throttles later batches."""
    from overturelink_data_pipeline_spark.sinks.publish import (
        MockFeatureService,
        _AdaptiveState,
        _append_adaptive,
    )

    svc = MockFeatureService()
    st = _append_adaptive(svc, [{"i": 0}], floor=10, state=_AdaptiveState(), ceiling=1000)
    assert st.limit is None  # nothing learned from a short clean batch
    st = _append_adaptive(svc, [{"i": i} for i in range(1000)], floor=10, state=st, ceiling=1000)
    sizes = [n for op, n in svc.calls if op == "append"]
    assert sizes == [1, 1000]  # second batch went up WHOLE


def test_probe_up_backs_off_on_genuinely_reduced_limit():
    """When the endpoint limit really is lower, rejected probes must
    become geometrically rarer, not one per _PROBE_UP_AFTER successes."""
    from overturelink_data_pipeline_spark.sinks.publish import (
        MockFeatureService,
        _AdaptiveState,
        _append_adaptive,
    )

    svc = MockFeatureService(max_payload=50)  # hard server limit
    st = _AdaptiveState()
    rejected_per_round = []
    for _ in range(8):
        before = len([1 for op, n in svc.calls if op == "append"])
        ok_before = svc.count()
        st = _append_adaptive(
            svc, [{"i": i} for i in range(400)], floor=10, state=st, ceiling=400
        )
        appends = len([1 for op, n in svc.calls if op == "append"]) - before
        rows = svc.count() - ok_before
        rejected_per_round.append(appends - (rows + 49) // 50 if st.limit == 50 else None)
    # threshold doubled at least twice -> later rounds see fewer probes
    assert st.threshold > 8


# ---------------------------------------------------------------------------
# dedup_clusters pointer-doubling fallback (VERDICT r3 ask #6)
# ---------------------------------------------------------------------------


def _cluster_via_duckdb(pairs):
    """Reference components via the same recursive CTE the
    dedup_clusters oracle uses."""
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE TABLE p (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    return {
        (int(r[0]), int(r[1]))
        for r in con.sql(
            """
        WITH RECURSIVE edges AS (
          SELECT id_a AS s, id_b AS d FROM p
          UNION SELECT id_b, id_a FROM p
        ),
        reach(n, m) AS (
          SELECT s, s FROM edges
          UNION SELECT e.d, r.m FROM reach r JOIN edges e ON e.s = r.n
        ),
        label AS (SELECT n, MIN(m) AS root FROM reach GROUP BY n)
        SELECT root, COUNT(*) FROM label GROUP BY root ORDER BY root
        """
        ).fetchall()
    }


def _spark_clusters(spark, pairs):
    from overturelink_data_pipeline_spark.operators.dedup import cluster_labels

    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    labels = cluster_labels(pdf)
    rows = (
        labels.groupBy("lbl").count().orderBy("lbl").collect()
    )
    return {(int(r["lbl"]), int(r["count"])) for r in rows}


def test_cluster_labels_64_deep_chain_uses_doubling(spark):
    """A 64-hop duplicate chain exceeds the 20 propagation rounds; the
    pointer-doubling continuation must close it (the r3 code raised
    RuntimeError here)."""
    pairs = [(i, i + 1) for i in range(64)]
    got = _spark_clusters(spark, pairs)
    assert got == {(0, 65)}
    assert got == _cluster_via_duckdb(pairs)


def test_cluster_labels_random_graph_matches_recursive_cte(spark):
    import random

    rng = random.Random(42)
    nodes = list(range(0, 400, 3))
    pairs = list(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
            )
            if a != b
        }
    )
    assert _spark_clusters(spark, pairs) == _cluster_via_duckdb(pairs)


def test_stream_validation_rejects_trailing_garbage(tmp_path):
    from overturelink_data_pipeline_spark.sinks.geojson import (
        validate_geojson,
    )

    doc = (
        '{"type":"FeatureCollection","features":['
        '{"type":"Feature","geometry":null,"properties":{}}]}'
    )
    p = tmp_path / "g.geojson"
    p.write_text(doc + "\nGARBAGE")
    with pytest.raises(ValueError, match="Extra data"):
        validate_geojson(str(p), 1)
    p.write_text(doc + " \n ")  # pure whitespace tail is fine
    validate_geojson(str(p), 1)


def test_fgb_drops_empty_parts():
    from overturelink_data_pipeline_spark.sinks.fgb import _flat_parts

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 0.0)]
    xy, ends = _flat_parts(("Polygon", [ring, []]))
    assert ends == [4]  # the empty ring emitted no duplicated end
    xy, ends = _flat_parts(
        ("MultiLineString", [("LineString", [(0.0, 0.0), (1.0, 1.0)]), ("LineString", [])])
    )
    assert ends == [2]
    xy, _ = _flat_parts(("MultiPoint", [("Point", (1.0, 2.0)), ("Point", None)]))
    assert xy == [1.0, 2.0]

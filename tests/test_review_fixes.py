"""Regression pins for the round-2 review findings — each test targets
one specific repaired behavior so it cannot silently regress."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from overturelink_data_pipeline_spark.geo import geom as G
from overturelink_data_pipeline_spark.geo import wkb as W

BOWTIE = [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0), (0.0, 0.0)]
SQUARE = [(10.0, 10.0), (12.0, 10.0), (12.0, 12.0), (10.0, 12.0), (10.0, 10.0)]


def test_make_valid_never_nests_multipolygon():
    """A bowtie child of a MultiPolygon repairs into 2+ shells; those
    must flatten into the parent — MP-inside-MP is invalid WKB."""
    mp = ("MultiPolygon", [("Polygon", [BOWTIE]), ("Polygon", [SQUARE])])
    fixed = G.make_valid(mp)
    assert fixed[0] == "MultiPolygon"
    kinds = {c[0] for c in fixed[1]}
    assert kinds == {"Polygon"}
    assert len(fixed[1]) == 3  # bowtie split into 2 + the square
    # and the result round-trips through the WKB codec
    assert W.loads(W.dumps(fixed)) == fixed


def test_intersects_geometrycollection_containment():
    """Point strictly inside a polygon nested in a GeometryCollection
    (no shared edges/vertices) must intersect."""
    gc = ("GeometryCollection", [("Polygon", [SQUARE])])
    assert G.intersects(("Point", (11.0, 11.0)), gc)
    assert G.intersects(gc, ("Point", (11.0, 11.0)))
    assert not G.intersects(("Point", (0.0, 0.0)), gc)
    # line child of a GC still gets the edge test
    gc2 = ("GeometryCollection", [("LineString", [(0.0, 0.0), (5.0, 5.0)])])
    assert G.intersects(gc2, ("LineString", [(0.0, 5.0), (5.0, 0.0)]))


def test_dialect_resolution_vs_parse_contracts(spark):
    from overturelink_data_pipeline_spark.functions.dialect import (
        apply_sql_filter,
        filter_roots,
    )

    df = spark.createDataFrame(
        [Row(id=1, names=Row(primary="x")), Row(id=2, names=Row(primary="y"))]
    )
    # generic expression naming a missing column → EMPTY, not passthrough
    assert apply_sql_filter(df, "height > 10").count() == 0
    # known shape with missing NESTED field → empty, not AnalysisException
    assert apply_sql_filter(df, "names.primaryy = 'x'").count() == 0
    # genuinely unparseable → passthrough
    assert apply_sql_filter(df, "]] not sql [[").count() == 2
    # sane filter still filters
    assert apply_sql_filter(df, "names.primary = 'x'").count() == 1
    assert filter_roots("names.primary = 'x'") == {"names"}
    assert filter_roots("height > 10") == set()


def test_cache_filter_root_miss_falls_through(spark, tmp_path):
    """A cache whose projection lacks the filter's root columns must
    report a MISS (None) so the reader falls to a tier that can
    evaluate the filter — not silently return the empty frame."""
    from overturelink_data_pipeline_spark.geo import fixtures as FX
    from overturelink_data_pipeline_spark.operators.pipeline import (
        fixture_base_dir,
    )
    from overturelink_data_pipeline_spark.plans.config import builtin_queries
    from overturelink_data_pipeline_spark.plans.models import Country, Query
    from overturelink_data_pipeline_spark.sources.fallback import OvertureReader

    c = FX.COUNTRIES[0]
    country = Country(
        name=c["name"], iso2=c["iso2"], iso3=c["iso3"],
        region=c["region"], bbox=tuple(c["bbox"]),
    )
    reader = OvertureReader(
        spark,
        base_dir=fixture_base_dir(spark),
        release="2026-05-15.0",
        cache_root=str(tmp_path / "cache"),
        backoff_base_s=0.0,
    )
    base_q = builtin_queries()["places"]
    reader.cache_country(base_q, country)
    # filter on a RAW-schema root the projected cache does not carry
    # (bbox is scan metadata the place projection deliberately drops;
    # names/addresses/contacts ARE projected since the round-3 fix).
    # Dialect-shaped (=) so filter_roots covers it — generic
    # expressions are documented as outside the guard's contract.
    raw_q = Query(
        name=base_q.name, theme=base_q.theme, type=base_q.type,
        filter="bbox.xmin = 'nope'",
    )
    from overturelink_data_pipeline_spark.plans.models import RunOptions

    assert reader._from_cache(raw_q, country, RunOptions()) is None
    # filter on a projected column IS served from cache (ADVICE r11
    # fast path: a known-shape simple column present in the footer
    # list resolves without the analysis probe)
    proj_q = Query(
        name=base_q.name, theme=base_q.theme, type=base_q.type,
        filter="category = 'education'",
    )
    assert reader._from_cache(proj_q, country, RunOptions()) is not None
    # dotted path whose ROOT is projected but whose nested field is
    # not: the footer list can't decide this tier — the analysis
    # probe must, and it must read MISS (the cache would silently
    # empty where the raw tier resolves)
    nested_q = Query(
        name=base_q.name, theme=base_q.theme, type=base_q.type,
        filter="names.ghost_field = 'x'",
    )
    assert reader._from_cache(nested_q, country, RunOptions()) is None


def test_dump_validation_failure_preserves_prior_mirror(spark, tmp_path):
    """A schema-validation failure must not destroy a pre-existing
    complete mirror the call never wrote to."""
    from overturelink_data_pipeline_spark.operators.pipeline import (
        fixture_base_dir,
    )
    from overturelink_data_pipeline_spark.sources.dump import ensure_dump

    base = fixture_base_dir(spark)
    dump_root = str(tmp_path / "dump")
    meta = ensure_dump(spark, base, dump_root, "places", release="rA")
    assert meta["complete"]
    # a source missing required columns → validation error BEFORE write
    bad_src = str(tmp_path / "bad_src")
    spark.range(3).select(
        F.col("id").cast("string").alias("id")
    ).write.parquet(os.path.join(bad_src, "theme=places", "type=place"))
    with pytest.raises(ValueError, match="missing"):
        ensure_dump(spark, bad_src, dump_root, "places", release="rB")
    # prior mirror intact and still valid
    assert os.path.isdir(os.path.join(dump_root, "theme=places"))
    again = ensure_dump(spark, base, dump_root, "places", release="rA")
    assert again["complete"] and again["release"] == "rA"


def test_reader_rejects_stale_release_dump(spark, tmp_path):
    """Dump tier must be skipped when the sidecar's release differs
    from the reader's."""
    from overturelink_data_pipeline_spark.operators.pipeline import (
        fixture_base_dir,
    )
    from overturelink_data_pipeline_spark.sources.dump import ensure_dump
    from overturelink_data_pipeline_spark.sources.fallback import OvertureReader

    base = fixture_base_dir(spark)
    dump_root = str(tmp_path / "dump")
    ensure_dump(spark, base, dump_root, "places", release="old-release")
    reader = OvertureReader(
        spark, base_dir=base, release="new-release",
        dump_dir=dump_root, backoff_base_s=0.0,
    )
    assert not reader._dump_valid("places")
    reader2 = OvertureReader(
        spark, base_dir=base, release="old-release",
        dump_dir=dump_root, backoff_base_s=0.0,
    )
    assert reader2._dump_valid("places")


@pytest.mark.parametrize("rows", [[(1, None), (2, None)], []], ids=["all_null", "empty"])
@pytest.mark.parametrize("sink", ["write_cache", "write_geoparquet"])
def test_write_cache_all_null_geometry(spark, tmp_path, sink, rows):
    """All-null-geometry and empty frames must still land a sidecar
    with the right count and bbox=None, not crash on float(None) or
    store a [null]*4 bbox after the parquet write."""
    from pyspark.sql import types as T

    from overturelink_data_pipeline_spark.sinks.geoparquet import write_geoparquet
    from overturelink_data_pipeline_spark.sources.cache import write_cache

    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("geometry", T.BinaryType()),
        ]),
    )
    if sink == "write_cache":
        path = str(tmp_path / "c.parquet")
        meta = write_cache(
            df, path, country="AA", theme="places", type_="place", release="r",
        )
        count, bbox, side = meta.feature_count, meta.bbox, path + ".meta.json"
    else:
        path = str(tmp_path / "gp")
        meta = write_geoparquet(df, path)
        count, bbox = meta["feature_count"], meta["columns"]["geometry"]["bbox"]
        side = os.path.join(path, "_geo_metadata.json")
    assert count == len(rows)
    assert bbox is None
    assert os.path.exists(side)


def test_morton_cell_widens_bits(spark):
    """Fine resolutions must widen the interleave instead of aliasing
    cells 2^bits columns apart."""
    from overturelink_data_pipeline_spark.geo.grid import morton_cell

    df = spark.createDataFrame(
        [(0.0, 0.0), (0.005 * 65536 - 180.0 + 180.0 - 180.0, 0.0)],
        "lon double, lat double",
    )
    # two points 65536 grid columns apart at res 0.005 — distinct codes
    df2 = spark.createDataFrame(
        [(-180.0 + 0.0025, 0.0), (-180.0 + 0.005 * 65536 + 0.0025, 0.0)],
        "lon double, lat double",
    )
    codes = [
        r[0]
        for r in df2.select(morton_cell(F.col("lon"), F.col("lat"), 0.005)).collect()
    ]
    assert codes[0] != codes[1]


def test_sanitize_field_name_contract():
    """T2 — reference transform.py:297-324 semantics."""
    from overturelink_data_pipeline_spark.transform import sanitize_field_name

    assert sanitize_field_name("  My Field-Name!  ") == "my_field_name"
    assert sanitize_field_name("x" * 40) == "x" * 30
    assert sanitize_field_name("a.b/c") == "abc"


def test_drop_bad_geometry_agrees_with_fused_path(spark):
    """The readable multi-pass F9-F11 variant and the fused
    st_clean_geometry UDF must keep the SAME row set (no make_valid/
    unwrap) — guards semantic drift between the documented variant and
    the hot path the normalizers actually use."""
    from pyspark.sql import functions as F

    from overturelink_data_pipeline_spark.geo import fixtures as FX
    from overturelink_data_pipeline_spark.geo.functions import st_clean_geometry
    from overturelink_data_pipeline_spark.transform import drop_bad_geometry

    df = FX.fixture_df(spark, "transportation_segment").select("id", "geometry")
    kept_multi = {r.id for r in drop_bad_geometry(df, "lines").select("id").collect()}
    fused = df.withColumn(
        "geometry", st_clean_geometry("lines")(F.col("geometry"))
    ).filter(F.col("geometry").isNotNull())
    kept_fused = {r.id for r in fused.select("id").collect()}
    assert kept_multi == kept_fused and kept_multi


def test_empty_geometry_writes_as_null_shape(spark, tmp_path):
    """Round-3 review: POINT EMPTY / empty parts crashed the shapefile
    and FGB coordinate encoders; both now treat them as null/absent
    geometry (the SQL-NULL path)."""
    from overturelink_data_pipeline_spark.sinks.fgb import read_fgb, write_fgb
    from overturelink_data_pipeline_spark.sinks.shapefile import write_shapefile

    empty_pt = W.dumps(("Point", None))
    pt = W.dumps(("Point", (1.0, 2.0)))
    df = spark.createDataFrame(
        [Row(id="a", geometry=bytearray(pt)),
         Row(id="b", geometry=bytearray(empty_pt)),
         Row(id="c", geometry=None)],
        "id string, geometry binary",
    )
    n = write_shapefile(df, str(tmp_path / "t.shp"))
    assert n == 3
    n2 = write_fgb(df, str(tmp_path / "t.fgb"))
    assert n2 == 3
    doc = read_fgb(str(tmp_path / "t.fgb"))
    assert doc["features_count"] == 3 and len(doc["features"]) == 3


def test_place_projection_keeps_flatten_roots(spark):
    """Round-3 review: the place projection dropped addresses/contact/
    names roots, silently killing X1/X3/X4 flattening in every
    compiled pipeline."""
    from overturelink_data_pipeline_spark.plans.overture import PROJECTIONS, project
    from overturelink_data_pipeline_spark.transform import normalize_places

    for root in ("names", "addresses", "websites", "emails", "phones"):
        assert any(spec.split(" ")[0] == root for spec in PROJECTIONS["place"]), root
    raw = spark.read.parquet("/root/repo/fixtures/places_place")
    flat = normalize_places(project(raw, "place"))
    for col in ("address_full", "website", "email", "phone", "name_common"):
        assert col in flat.columns, col


def test_streaming_geojson_validation_counts_without_full_parse(spark, tmp_path):
    from overturelink_data_pipeline_spark.sinks.geojson import write_geojson

    pt = W.dumps(("Point", (1.0, 2.0)))
    df = spark.createDataFrame(
        [Row(id=str(i), geometry=bytearray(pt)) for i in range(7)],
        "id string, geometry binary",
    )
    out = str(tmp_path / "s.geojson")
    n = write_geojson(df, out)  # validates the written file
    assert n == 7


def test_roads_normalizer_tolerates_projected_drift(spark):
    """Schema drift the projection tolerates (missing class/subtype)
    must not crash the normalizer one stage later."""
    from overturelink_data_pipeline_spark.transform import normalize_roads

    pt = W.dumps(("LineString", [(0.0, 0.0), (1.0, 1.0)]))
    df = spark.createDataFrame(
        [Row(id="x", name="r", geometry=bytearray(pt))],
        "id string, name string, geometry binary",
    )
    out = normalize_roads(df)
    rows = out.collect()
    assert rows and rows[0]["road_class"] is None and rows[0]["road_type"] is None

"""FlatGeobuf sink (S11 FlatGeobuf leg, reference source.py:617-676):
round-trip read-back through the stdlib reader — header invariants
(magic, size-prefixed flatbuffer, unindexed layout), geometry parity
for every family the WKB codec speaks, property wire encoding, and the
CLI export path."""

from __future__ import annotations

import json
import struct

import pytest
from pyspark.sql import Row

from overturelink_data_pipeline_spark.geo import wkb as W
from overturelink_data_pipeline_spark.sinks.fgb import (
    MAGIC,
    read_fgb,
    write_fgb,
)

GEOMS = [
    ("Point", (1.5, 2.5)),
    ("LineString", [(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)]),
    (
        "Polygon",
        [
            [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)],
            [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)],
        ],
    ),
    (
        "MultiPolygon",
        [
            ("Polygon", [[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]]),
            ("Polygon", [[(5.0, 5.0), (6.0, 5.0), (6.0, 6.0), (5.0, 5.0)]]),
        ],
    ),
    (
        "MultiLineString",
        [
            ("LineString", [(0.0, 0.0), (1.0, 1.0)]),
            ("LineString", [(2.0, 2.0), (3.0, 3.0)]),
        ],
    ),
    ("MultiPoint", [("Point", (0.0, 1.0)), ("Point", (2.0, 3.0))]),
    (
        "GeometryCollection",
        [("Point", (9.0, 9.0)), ("LineString", [(0.0, 0.0), (1.0, 2.0)])],
    ),
    None,
]


@pytest.fixture
def mixed_df(spark):
    rows = [
        Row(
            id=i,
            name=f"feat{i}",
            score=float(i) * 1.5,
            flag=(i % 2 == 0),
            geometry=(W.dumps(g) if g is not None else None),
        )
        for i, g in enumerate(GEOMS)
    ]
    return spark.createDataFrame(rows)


def test_fgb_roundtrip_mixed(mixed_df, tmp_path):
    path = str(tmp_path / "mixed.fgb")
    assert write_fgb(mixed_df.orderBy("id"), path, name="mixed") == len(GEOMS)

    with open(path, "rb") as f:
        head = f.read(8)
    assert head == MAGIC

    out = read_fgb(path)
    assert out["name"] == "mixed"
    assert out["geometry_type"] == 0  # heterogeneous → Unknown
    assert out["features_count"] == len(GEOMS)
    assert [c[0] for c in out["columns"]] == ["id", "name", "score", "flag"]

    for feat, geom in zip(out["features"], GEOMS):
        assert feat["geometry"] == geom
        if geom is not None:
            # byte-exact WKB parity through the codec
            assert W.dumps(feat["geometry"]) == W.dumps(geom)
    p0 = out["features"][0]["properties"]
    assert p0 == {"id": 0, "name": "feat0", "score": 0.0, "flag": True}
    # null geometry row still carries its properties
    assert out["features"][-1]["properties"]["id"] == len(GEOMS) - 1


def test_fgb_uniform_header_type_and_envelope(spark, tmp_path):
    pts = [("Point", (float(i), float(-i))) for i in range(5)]
    df = spark.createDataFrame(
        [Row(id=i, geometry=W.dumps(g)) for i, g in enumerate(pts)]
    )
    path = str(tmp_path / "pts.fgb")
    write_fgb(df.orderBy("id"), path, name="pts")
    out = read_fgb(path)
    assert out["geometry_type"] == 1  # Point
    assert out["features_count"] == 5

    # envelope [xmin, ymin, xmax, ymax] sits in the header (slot 1)
    with open(path, "rb") as f:
        data = f.read()
    hlen = struct.unpack_from("<I", data, 8)[0]
    header = data[12 : 12 + hlen]
    from overturelink_data_pipeline_spark.sinks import fgb as fgb_mod

    root = struct.unpack_from("<I", header, 0)[0]
    start, n = fgb_mod._read_vector(header, root, 1)
    env = [struct.unpack_from("<d", header, start + 8 * i)[0] for i in range(n)]
    assert env == [0.0, -4.0, 4.0, 0.0]


def test_fgb_empty_frame(spark, tmp_path):
    df = spark.createDataFrame([], "id long, geometry binary")
    path = str(tmp_path / "empty.fgb")
    assert write_fgb(df, path) == 0
    out = read_fgb(path)
    assert out["features_count"] == 0
    assert out["features"] == []


def test_fgb_binary_and_null_properties(spark, tmp_path):
    df = spark.createDataFrame(
        [
            Row(id=1, blob=b"\x00\xffpayload", note=None,
                geometry=W.dumps(("Point", (0.0, 0.0)))),
            Row(id=2, blob=None, note="hello",
                geometry=W.dumps(("Point", (1.0, 1.0)))),
        ]
    )
    path = str(tmp_path / "props.fgb")
    write_fgb(df.orderBy("id"), path)
    feats = read_fgb(path)["features"]
    assert feats[0]["properties"] == {"id": 1, "blob": b"\x00\xffpayload"}
    assert feats[1]["properties"] == {"id": 2, "note": "hello"}


def test_fgb_single_ring_polygon_omits_ends(spark, tmp_path):
    """One-part geometries omit the ends vector (spec allows implicit
    single part); the reader must reconstruct the ring."""
    poly = ("Polygon", [[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 0.0)]])
    df = spark.createDataFrame([Row(id=1, geometry=W.dumps(poly))])
    path = str(tmp_path / "ring.fgb")
    write_fgb(df, path)
    assert read_fgb(path)["features"][0]["geometry"] == poly


def test_cli_export_fgb(tmp_path, capsys, spark):
    import overturelink_data_pipeline_spark.cli as cli

    out = str(tmp_path / "aaa_roads.fgb")
    orig = cli._spark
    cli._spark = lambda args: spark
    try:
        assert cli.main([
            "export", "roads", out, "--country", "AA", "--format", "fgb",
            "--limit", "25",
        ]) == 0
    finally:
        cli._spark = orig
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert result["features"] > 0
    parsed = read_fgb(out)
    assert parsed["features_count"] == result["features"]
    # roads normalize to LineStrings → uniform header type 2
    assert parsed["geometry_type"] == 2
    props = parsed["features"][0]["properties"]
    assert props.get("country_iso3") == "AAA"


# ---------------------------------------------------------------------------
# review r10 fixes: partially-EMPTY geometries, streaming spool, and
# the builder's batched vector packing
# ---------------------------------------------------------------------------


def test_fgb_partially_empty_members(spark, tmp_path):
    """Multi*/GeometryCollection with EMPTY members must export (the
    empty members dropped, like _flat_parts already did for MultiPoint)
    instead of crashing the bbox fold / coordinate flattener."""
    geoms = [
        ("MultiPoint", [("Point", (1.0, 1.0)), ("Point", None)]),
        (
            "GeometryCollection",
            [("Point", (2.0, 3.0)), ("Point", None)],
        ),
        (
            "MultiLineString",
            [
                ("LineString", [(0.0, 0.0), (4.0, 4.0)]),
                ("LineString", []),
            ],
        ),
    ]
    rows = [
        Row(id=i, geometry=W.dumps(g)) for i, g in enumerate(geoms)
    ]
    path = str(tmp_path / "partial.fgb")
    assert write_fgb(spark.createDataFrame(rows), path) == 3
    out = read_fgb(path)
    feats = out["features"]
    assert feats[0]["geometry"] == ("MultiPoint", [("Point", (1.0, 1.0))])
    assert feats[1]["geometry"] == (
        "GeometryCollection", [("Point", (2.0, 3.0))]
    )
    assert feats[2]["geometry"] == (
        "MultiLineString", [("LineString", [(0.0, 0.0), (4.0, 4.0)])]
    )
    # envelope covers only the real coordinates — no ±inf doubles
    import struct as _s

    with open(path, "rb") as f:
        data = f.read()
    assert _s.pack("<d", float("inf")) not in data
    assert _s.pack("<d", float("-inf")) not in data


def test_fgb_large_geometry_fast_and_correct(spark, tmp_path):
    """The builder packs coordinate vectors in one prepend. Timed on
    the PURE-PYTHON encode only (no Spark jobs — this box has
    documented multi-second stall windows that flaked the first cut of
    this test) at a size where the per-element O(V²) form measurably
    blows up: 200k vertices cost it ~16 s extrapolated from the
    0.42 s/32k review measurement, vs milliseconds batched. The Spark
    round-trip then checks correctness at 40k without a wall bound."""
    import time

    from overturelink_data_pipeline_spark.sinks.fgb import _build_feature

    big = ("LineString", [(float(i), float(i % 7)) for i in range(200_000)])
    t0 = time.time()
    buf = _build_feature(big, b"")
    assert time.time() - t0 < 5.0  # pure Python; O(V²) needed ~16 s
    assert len(buf) > 200_000 * 16  # all coordinates present

    n = 40_000
    line = ("LineString", [(float(i), float(i % 7)) for i in range(n)])
    df = spark.createDataFrame([Row(id=1, geometry=W.dumps(line))])
    path = str(tmp_path / "big.fgb")
    assert write_fgb(df, path) == 1
    back = read_fgb(path)["features"][0]["geometry"]
    assert back[0] == "LineString" and len(back[1]) == n
    assert back[1][:3] == [(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]

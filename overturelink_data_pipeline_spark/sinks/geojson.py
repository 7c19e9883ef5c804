"""GeoJSON sinks (reference export.py:255-325, 439-465).

Two writers with different scale envelopes:

- **GeoJSONSeq** (RFC 8142-style, one Feature per line): fully
  distributed — each row becomes one JSON line built inside the plan
  (properties via ``to_json`` JVM-side, geometry via one Arrow UDF),
  written with ``df.write.text``. This is the 100 TB path; the
  reference itself exposes GeoJSONSeq for "streaming-friendly" export
  (reference source.py:652-657).
- **Single-file FeatureCollection**: the reference's default export —
  inherently single-writer, so the feature lines are collected to the
  driver and driver memory grows with the frame. It injects the
  ``layer`` property when flattening multi-layer dicts (U2, reference
  export.py:266-297) and an optional metadata block. Documented bound:
  country-sized outputs; GeoJSONSeq and GeoParquet are the scalable
  sinks (SURVEY.md §7.3).

Post-write validation (reference export.py:439-465): parse the file
back and check feature count.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from overturelink_data_pipeline_spark.geo import geom as G
from overturelink_data_pipeline_spark.geo import wkb as W

_GEOM_COL = "geometry"


def _geom_to_geojson(geom: W.Geom) -> dict:
    name, body = geom
    if name == "Point":
        return {"type": "Point", "coordinates": list(body) if body else []}
    if name == "LineString":
        return {"type": "LineString", "coordinates": [list(c) for c in body]}
    if name == "Polygon":
        return {"type": "Polygon", "coordinates": [[list(c) for c in ring] for ring in body]}
    if name == "GeometryCollection":
        # drop EMPTY children (review r10): POINT EMPTY has no valid
        # GeoJSON form inside a collection — RFC 7946 requires a Point
        # position of >= 2 numbers
        return {
            "type": "GeometryCollection",
            "geometries": [
                _geom_to_geojson(ch) for ch in body if not G.is_empty(ch)
            ],
        }
    # Multi*: children are full geom tuples; GeoJSON wants bare coord
    # arrays — empty members dropped for the same RFC reason
    return {
        "type": name,
        "coordinates": [
            _geom_to_geojson(ch)["coordinates"]
            for ch in body
            if not G.is_empty(ch)
        ],
    }


def _wkb_to_geojson_str(b) -> str | None:
    if b is None:
        return None
    geom = W.loads(bytes(b))
    if G.is_empty(geom):
        # EMPTY geometries have no valid GeoJSON encoding (a Point
        # needs a position; review r10: the old [] coordinates were
        # RFC-invalid) — emit a null geometry like the sibling sinks'
        # Null Shape / geometry-less feature treatment
        return None
    return json.dumps(_geom_to_geojson(geom))


@pandas_udf(T.StringType())
def st_as_geojson(s: pd.Series) -> pd.Series:
    """WKB → GeoJSON geometry string, None for NULL/EMPTY (Arrow-batched;
    the one Python hop in the feature-line builder)."""
    return s.map(_wkb_to_geojson_str)


def feature_line(df: DataFrame, layer: str | None = None) -> Column:
    """One GeoJSON Feature per row as a string column: properties via
    JVM-side ``to_json`` over all non-geometry columns, geometry JSON
    spliced in raw."""
    prop_cols = [c for c in df.columns if c != _GEOM_COL]
    props = F.to_json(F.struct(*[F.col(c) for c in prop_cols]))
    if layer is not None:
        if "layer" in prop_cols:
            # injecting would emit the key twice and JSON parsers keep
            # the LAST one — the tag would silently shadow user data
            # (review r10); explicit beats silent
            raise ValueError(
                "frame already has a 'layer' column — rename it before "
                "a multi-layer flatten injects the layer tag"
            )
        # inject the layer tag into properties (reference export.py:277-280)
        # via json.dumps so quotes/backslashes in the layer NAME cannot
        # corrupt the document (review r10); to_json omits null fields,
        # so an all-null row yields '{}' and the naive splice would emit
        # a trailing comma — branch on that case
        tag = json.dumps({"layer": layer}, separators=(",", ":"))
        props = F.when(props == F.lit("{}"), F.lit(tag)).otherwise(
            F.concat(
                F.lit(tag[:-1] + ","),
                F.substring(props, 2, 2_000_000_000),
            )
        )
    geom_json = F.coalesce(st_as_geojson(F.col(_GEOM_COL)), F.lit("null"))
    return F.concat(
        F.lit('{"type":"Feature","geometry":'),
        geom_json,
        F.lit(',"properties":'),
        props,
        F.lit("}"),
    )


def write_geojsonseq(df: DataFrame, path: str, layer: str | None = None) -> None:
    """Distributed newline-delimited features (S11 GeoJSONSeq driver)."""
    df.select(feature_line(df, layer).alias("value")).write.mode("overwrite").text(path)


def write_geojson(
    layers: dict[str, DataFrame] | DataFrame,
    path: str,
    metadata: dict | None = None,
) -> int:
    """Single-file FeatureCollection (S8). Multi-layer dicts flatten
    with an injected ``layer`` property. Returns the feature count.
    Driver-bound; see the module docstring.
    """
    if isinstance(layers, DataFrame):
        layers = {"": layers}
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    n = 0
    with open(path, "w", encoding="utf-8") as f:
        f.write('{"type":"FeatureCollection",')
        if metadata is not None:
            f.write('"metadata":' + json.dumps(metadata) + ",")
        f.write('"features":[')
        first = True
        for name, df in layers.items():
            lines = df.select(
                feature_line(df, name if len(layers) > 1 else None).alias("v")
            )
            for row in lines.collect():
                if not first:
                    f.write(",")
                f.write(row["v"])
                first = False
                n += 1
        f.write("]}")
    validate_geojson(path, n)
    return n


def validate_geojson(path: str, expected_features: int) -> None:
    """Post-write check (reference export.py:439-465): parseable and
    feature count matches."""
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    if doc.get("type") != "FeatureCollection":
        raise ValueError(f"{path}: not a FeatureCollection")
    got = len(doc.get("features", []))
    if got != expected_features:
        raise ValueError(f"{path}: wrote {expected_features} features, file has {got}")

"""Schema normalization — flat, publish-ready layers (SURVEY.md §7.1 step 4).

Re-expresses the reference's Transformer (reference transform.py:
dispatch 341-384; roads 431-469, buildings 472-515, places 518-573)
as pure Catalyst column expressions appended to the scan plan — no
materialization boundary, no per-row Python. The reference's pandas
``.apply`` flatteners (X1-X5) become struct/array accessors; its
string/number hygiene (T1-T6) becomes substring/try_cast/rename; the
geometry hygiene (F9-F11, G1/G2/G6) uses the geo UDF layer, always
*after* the cheap column predicates.

Output contracts (reference domain/contracts.py:15-101) are enforced
by :func:`validate_contract` as pre-write assertions.

Coverage notes for the remaining §2 rows this module absorbs:

- J3 (horizontal column concat, reference transform.py:452,491,535)
  is not a join in Spark — flattened columns are same-row
  ``withColumn``/``select`` derivations on the original frame.
- G3 (CRS normalize → EPSG:4326, reference transform.py:258-260) is a
  convention, not an op: geometry is WKB in 4326 end-to-end; the one
  real reprojection is the UTM round-trip inside ``st_centroid_utm``
  (G7). A non-4326 input would be reprojected at ingest via the same
  pyproj-free affine in geo/geom.py.
- T3 (reserved-keyword/semantic rename maps) and T5 ('None'-string
  scrub) are dead code / pandas artifacts in the reference
  (transform.py:33-95 has no call sites) — deliberately not ported
  (SURVEY.md §7.4).
"""

from __future__ import annotations

import re
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from overturelink_data_pipeline_spark.geo.functions import (
    st_area,
    st_geometry_type,
    st_is_empty,
    st_length,
)

#: T1 — AGOL string clip width (reference transform.py:26).
STRING_MAX = 255

#: F10 — degeneracy thresholds (reference transform.py:29-30).
MIN_POLYGON_AREA = 1e-12
MIN_LINE_LENGTH = 1e-10

#: T6 — preferred column order (reference transform.py:98-108):
#: id/name first, thematic fields, metadata, geometry last.
PREFERRED_ORDER = [
    "id",
    "name",
    "road_class",
    "road_type",
    "building_class",
    "building_type",
    "height_m",
    "floors",
    "feature_type",
    "name_primary",
    "name_common",
    "category_primary",
    "category_alternate",
    "address_full",
    "address_locality",
    "address_country",
    "website",
    "email",
    "phone",
    "confidence",
    "processed_date",
    "country_iso3",
    "country_name",
    "data_sector",
    "geometry_family",
    # source_type never survives normalization (folded into
    # feature_type per reference transform.py:529-530), but the slot is
    # NOT dead: ordered_select is a general T6 surface also applied to
    # PRE-normalization frames — split_by_geometry tags source_type on
    # its layers (geo/split.py:47) and callers order those directly.
    "source_type",
    "geometry",
]

_NAMES_SCHEMA = T.StructType(
    [
        T.StructField("primary", T.StringType()),
        T.StructField("common", T.MapType(T.StringType(), T.StringType())),
    ]
)
_CATEGORIES_SCHEMA = T.StructType(
    [
        T.StructField("primary", T.StringType()),
        T.StructField("alternate", T.ArrayType(T.StringType())),
    ]
)
_ADDRESSES_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("freeform", T.StringType()),
            T.StructField("locality", T.StringType()),
            T.StructField("region", T.StringType()),
            T.StructField("postcode", T.StringType()),
            T.StructField("country", T.StringType()),
        ]
    )
)

_STRUCT_SCHEMAS = {
    "names": _NAMES_SCHEMA,
    "categories": _CATEGORIES_SCHEMA,
    "addresses": _ADDRESSES_SCHEMA,
}


def _is_string_col(df: DataFrame, name: str) -> bool:
    return isinstance(df.schema[name].dataType, T.StringType)


def coerce_json_columns(df: DataFrame) -> DataFrame:
    """X5 — JSON-string tolerant parsing: if names/categories/addresses
    arrive as STRING (cache round-trip drift, reference
    transform.py:649-651,683-685,706-708), parse with from_json."""
    for name, schema in _STRUCT_SCHEMAS.items():
        if name in df.columns and _is_string_col(df, name):
            df = df.withColumn(name, F.from_json(F.col(name), schema))
    return df


def clip_str(col: Column, width: int = STRING_MAX) -> Column:
    """T1 — safe string with clip (reference transform.py:327-331)."""
    return F.substring(col.cast("string"), 1, width)


def sanitize_field_name(name: str) -> str:
    """T2 — ≤30 chars, spaces/dashes→underscore, lowercase
    (reference transform.py:297-324)."""
    s = re.sub(r"[\s\-]+", "_", name.strip())
    s = re.sub(r"[^0-9a-zA-Z_]", "", s)
    return s.lower()[:30]


def ordered_select(df: DataFrame) -> DataFrame:
    """T6 — PREFERRED_ORDER columns first (those present), extras after
    in original order, geometry last."""
    present = [c for c in PREFERRED_ORDER if c in df.columns and c != "geometry"]
    extras = [c for c in df.columns if c not in PREFERRED_ORDER]
    tail = ["geometry"] if "geometry" in df.columns else []
    return df.select(*(present + extras + tail))


def add_metadata(
    df: DataFrame,
    country_iso3: str,
    country_name: str,
    data_sector: str | None = None,
    processed_date: str | None = None,
) -> DataFrame:
    """M1 — constant-per-run enrichment columns (reference
    transform.py:151-177)."""
    processed = processed_date or datetime.now(timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    out = (
        df.withColumn("processed_date", F.lit(processed))
        .withColumn("country_iso3", F.lit(country_iso3))
        .withColumn("country_name", F.lit(country_name))
    )
    if data_sector is not None:
        out = out.withColumn("data_sector", F.lit(data_sector))
    return out


def drop_bad_geometry(df: DataFrame, family: str) -> DataFrame:
    """F9-F11 — null/empty drop, degenerate drop, family filter.

    Cheap null check first (Catalyst), then one UDF pass for
    type/empty/measure — the UDF conjuncts only see non-null rows.
    """
    df = df.filter(F.col("geometry").isNotNull())
    gtype = st_geometry_type(F.col("geometry"))
    if family == "lines":
        df = df.filter(gtype.isin("LineString", "MultiLineString"))
        df = df.filter(st_length(F.col("geometry")) > MIN_LINE_LENGTH)
    elif family == "polygons":
        df = df.filter(gtype.isin("Polygon", "MultiPolygon"))
        df = df.filter(st_area(F.col("geometry")) > MIN_POLYGON_AREA)
    elif family == "points":
        df = df.filter(gtype.isin("Point", "MultiPoint"))
    df = df.filter(~st_is_empty(F.col("geometry")))
    return df


# -- per-layer normalizers ---------------------------------------------------

def _name_cols(df: DataFrame) -> list[Column]:
    """X1 — names{primary, common} → name_primary, name_common (first
    language variant, reference transform.py:642-672)."""
    if "names" not in df.columns:
        return []
    return [
        clip_str(F.col("names.primary")).alias("name_primary"),
        clip_str(F.try_element_at(F.map_values(F.col("names.common")), F.lit(1))).alias(
            "name_common"
        ),
    ]


def normalize_roads(df: DataFrame) -> DataFrame:
    """Roads layer (reference transform.py:431-469): class→road_class,
    subtype→road_type, lines only, strings clipped, ordered."""
    df = coerce_json_columns(df)
    # P1 may already have projected `names.primary as name` at the scan
    # (reference source.py:31-39); accept either shape.
    if "name" in df.columns:
        name_col = clip_str(F.col("name")).alias("name")
    elif "names" in df.columns:
        name_col = clip_str(F.col("names.primary")).alias("name")
    else:
        name_col = F.lit(None).cast("string").alias("name")
    from overturelink_data_pipeline_spark.geo.functions import st_clean_geometry

    # class/subtype guarded like name: plans/overture.project()
    # deliberately SKIPS specs whose source root is missing (schema
    # drift tolerance) — an unguarded F.col would turn that tolerated
    # drift into an AnalysisException one stage later
    def _opt(col: str, alias: str):
        if col in df.columns:
            return clip_str(F.col(col)).alias(alias)
        return F.lit(None).cast("string").alias(alias)

    out = df.select(
        F.col("id"),
        name_col,
        _opt("class", "road_class"),
        _opt("subtype", "road_type"),
        F.col("geometry"),
    )
    # fused F9-F11 hygiene: one WKB decode instead of three UDF passes
    out = out.filter(F.col("geometry").isNotNull()).withColumn(
        "geometry", st_clean_geometry("lines")(F.col("geometry"))
    )
    out = out.filter(F.col("geometry").isNotNull())
    return ordered_select(out)


def normalize_buildings(df: DataFrame) -> DataFrame:
    """Buildings layer (reference transform.py:472-515): make-valid →
    unwrap single-part multipolygons → polygons only, height/floors
    via try_cast (T4, reference transform.py:757-770)."""
    df = coerce_json_columns(df)
    if "name" in df.columns:
        name_col = clip_str(F.col("name")).alias("name")
    elif "names" in df.columns:
        name_col = clip_str(F.col("names.primary")).alias("name")
    else:
        name_col = F.lit(None).cast("string").alias("name")
    height = (
        F.col("height").cast("string").try_cast("double")
        if "height" in df.columns
        else F.lit(None).cast("double")
    )
    floors_src = "num_floors" if "num_floors" in df.columns else "floor_count"
    floors = (
        F.col(floors_src).cast("string").try_cast("double").try_cast("int")
        if floors_src in df.columns
        else F.lit(None).cast("int")
    )
    # class/subtype guarded for the same drift-tolerance reason as
    # normalize_roads (projection skips missing source roots)
    def _opt(col: str, alias: str):
        if col in df.columns:
            return clip_str(F.col(col)).alias(alias)
        return F.lit(None).cast("string").alias(alias)

    out = df.select(
        F.col("id"),
        name_col,
        _opt("class", "building_class"),
        _opt("subtype", "building_type"),
        height.alias("height_m"),
        floors.alias("floors"),
        *(
            # multilayer provenance tag (J2): folded into feature_type
            # per the reference's column convention (transform.py:
            # 529-530 — source_type never survives normalization;
            # feature_type is the provenance column). ADVICE r10.
            [clip_str(F.col("source_type").cast("string")).alias("feature_type")]
            if "source_type" in df.columns
            else []
        ),
        F.col("geometry"),
    )
    from overturelink_data_pipeline_spark.geo.functions import st_clean_geometry

    # fused G2+G6+F9-F11: make_valid, unwrap, family/area/empty checks
    # in ONE Arrow pass (was 5 UDF passes, each decoding WKB)
    out = out.filter(F.col("geometry").isNotNull()).withColumn(
        "geometry",
        st_clean_geometry("polygons", make_valid=True, unwrap=True)(F.col("geometry")),
    )
    out = out.filter(F.col("geometry").isNotNull())
    return ordered_select(out)


def normalize_places(df: DataFrame, feature_type: str = "place") -> DataFrame:
    """Places layer (reference transform.py:518-573): flattened names/
    categories/addresses/contact arrays, points only."""
    df = coerce_json_columns(df)
    cols = [F.col("id")]
    # P1 may already have projected `names.primary as name` at the scan
    # (reference source.py:53); accept either shape.
    if "name" in df.columns:
        cols.append(clip_str(F.col("name")).alias("name"))
    elif "names" in df.columns:
        cols.append(clip_str(F.col("names.primary")).alias("name"))
    # reference transform.py:529-530 folds the multilayer provenance
    # tag INTO feature_type (result_gdf['feature_type'] =
    # gdf['source_type']) and keeps no separate source_type column
    # (ADVICE r10 — the r10 extra-column shape diverged by one column
    # and lost per-frame provenance in feature_type). One intentional
    # residual divergence, for schema stability: the reference omits
    # feature_type entirely when the frame carries no tag; we emit the
    # constant default so normalized places schemas are fixed.
    if "source_type" in df.columns:
        cols.append(
            clip_str(F.col("source_type").cast("string")).alias("feature_type")
        )
    else:
        cols.append(F.lit(feature_type).alias("feature_type"))
    cols.extend(_name_cols(df))
    if "categories" in df.columns:
        # X2 — categories{primary, alternate[]} (reference transform.py:675-696)
        cols.append(clip_str(F.col("categories.primary")).alias("category_primary"))
        cols.append(
            clip_str(F.try_element_at(F.col("categories.alternate"), F.lit(1))).alias(
                "category_alternate"
            )
        )
    if "addresses" in df.columns:
        # X3 — addresses[0]{freeform, locality, country} (transform.py:699-722)
        first = F.try_element_at(F.col("addresses"), F.lit(1))
        cols.append(clip_str(first["freeform"]).alias("address_full"))
        cols.append(clip_str(first["locality"]).alias("address_locality"))
        cols.append(clip_str(first["country"]).alias("address_country"))
    # X4 — first-of-array contacts (transform.py:548-555,725-742)
    for src, dst in (("websites", "website"), ("emails", "email"), ("phones", "phone")):
        if src in df.columns:
            cols.append(clip_str(F.try_element_at(F.col(src), F.lit(1))).alias(dst))
    if "confidence" in df.columns:
        # try_cast like height/floors (T4): a drifted string 'n/a' must
        # null, not throw under the ANSI-on session default (review r10)
        cols.append(
            F.col("confidence").cast("string").try_cast("double").alias("confidence")
        )
    cols.append(F.col("geometry"))
    out = df.select(*cols)
    from overturelink_data_pipeline_spark.geo.functions import st_clean_geometry

    out = out.filter(F.col("geometry").isNotNull()).withColumn(
        "geometry", st_clean_geometry("points")(F.col("geometry"))
    )
    out = out.filter(F.col("geometry").isNotNull())
    return ordered_select(out)


def add_sector_layers(layers: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """U1 — sector-combined layer (reference add_sector_layers,
    cli.py:2306-2364): for a multilayer result, building polygons
    collapse to UTM-accurate centroids (G7, cli.py:2242-2285), get
    tagged ``feature_type='building_centroid'``, and union with the
    places layer into ``places_combined``.

    Pure plan composition — the centroid UDF is the only Python stage
    and runs Arrow-batched; the union is `unionByName` with missing
    columns allowed (reference pd.concat ignore_index semantics,
    cli.py:2352-2359).
    """
    from overturelink_data_pipeline_spark.geo.functions import st_centroid_utm

    if "places" not in layers or "buildings" not in layers:
        return layers
    places, buildings = layers["places"], layers["buildings"]
    centroids = (
        buildings.withColumn("geometry", st_centroid_utm(F.col("geometry")))
        # the centroid kernel can return NULL (degenerate input); the
        # non-null-geometry invariant every sink assumes must be
        # re-established after ANY geometry UDF, same as the normalizers
        .filter(F.col("geometry").isNotNull())
        .withColumn("feature_type", F.lit("building_centroid"))
    )
    combined = places.unionByName(centroids, allowMissingColumns=True)
    out = dict(layers)
    out["places_combined"] = combined
    return out


def sanitize_service_name(name: str) -> str:
    """T7 — layer/service-name sanitize (reference publish.py:73-81):
    lowercase, strip a leading ``main.``, non-[a-z0-9_] dropped,
    clipped to 30 chars."""
    import re as _re

    n = name.lower()
    if n.startswith("main."):
        n = n[len("main."):]
    n = n.replace(" ", "_").replace("-", "_")
    n = _re.sub(r"[^a-z0-9_]", "", n)
    return n[:30]


def export_filename(iso3: str, query_name: str, fmt: str, raw: bool = False) -> str:
    """T9 — export-name generator ``{iso3}_{query}[_raw].{ext}``
    (reference export.py:468-510, utils.py:308-324)."""
    ext = {"geojson": "geojson", "geojsonseq": "geojsonl", "gpkg": "gpkg",
           "fgdb": "gdb", "geoparquet": "parquet", "shapefile": "shp",
           "flatgeobuf": "fgb", "fgb": "fgb"}[fmt]  # CLI passes 'fgb' (review r10)
    stem = f"{iso3.lower()}_{sanitize_service_name(query_name)}"
    if raw:
        stem += "_raw"
    return f"{stem}.{ext}"


def validate_contract(df: DataFrame) -> None:
    """Publish contract (reference domain/contracts.py:15-101): id +
    geometry present; metadata columns present. Plan-time check — no
    job is run."""
    missing = {"id", "geometry"} - set(df.columns)
    if missing:
        raise ValueError(f"publish contract violation: missing {sorted(missing)}")
    meta = {"processed_date", "country_iso3", "country_name"} - set(df.columns)
    if meta:
        raise ValueError(f"publish contract violation: missing metadata {sorted(meta)}")

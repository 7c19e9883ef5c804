"""S9 — GeoPackage sink, pure stdlib ``sqlite3`` (no GDAL needed).

A GeoPackage is an SQLite database following the public OGC GPKG
spec: ``gpkg_spatial_ref_sys`` + ``gpkg_contents`` +
``gpkg_geometry_columns`` metadata tables, feature tables with an
integer primary key, and geometry BLOBs = an 8+-byte "GP" header
(magic, version, flags, srs_id, optional envelope) followed by
standard WKB — which the engine already speaks (geo/wkb.py). That
makes a real writer feasible offline, replacing the round-1
NotImplementedError stub.

Reference semantics mirrored (export.py:327-353, 409-437):
multi-layer append (`mode='w'` first layer, `'a'` for the rest,
layer table per name) and the key/value ``metadata`` table. Output is
driver-bound by design like every single-file sink here: each layer's
frame is collected to the driver, so driver memory grows with it. The
documented envelope is country-sized exports; GeoJSONSeq and
GeoParquet are the scalable sinks (SURVEY.md §7.3).
"""

from __future__ import annotations

import os
import sqlite3
import struct
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from overturelink_data_pipeline_spark.geo import geom as G
from overturelink_data_pipeline_spark.geo import wkb as W

_GEOM_COL = "geometry"
_SRS_ID = 4326
#: PRAGMA application_id "GPKG", user_version 1.3.0 (spec values)
_APPLICATION_ID = 0x47504B47
_USER_VERSION = 10300

_WGS84_WKT = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]'
)


def _sqlite_type(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
        return "INTEGER"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "REAL"
    if isinstance(dt, T.BinaryType):
        return "BLOB"
    return "TEXT"


def _gp_blob(
    wkb_bytes: bytes,
) -> tuple[bytes, tuple[float, float, float, float] | None]:
    """Wrap WKB in the GeoPackage binary header (magic 'GP', version 0,
    flags = little-endian + XY envelope) and return (blob, bbox).

    EMPTY geometries (bbox is the inf/-inf sentinel) take the spec's
    empty-geometry form instead — envelope indicator 0 plus the empty
    flag (bit 4), no envelope doubles — and return bbox None so the
    layer extent never absorbs ±inf (review r10: packing the sentinel
    produced min>max envelopes strict readers reject)."""
    xmin, xmax, ymin, ymax = G.bbox(W.loads(wkb_bytes))
    if xmin > xmax:  # empty geometry sentinel
        header = (
            b"GP"
            + bytes([0, 0b00010001])  # flags: LE + empty, envelope ind 0
            + struct.pack("<i", _SRS_ID)
        )
        return header + bytes(wkb_bytes), None
    header = (
        b"GP"
        + bytes([0, 0b00000011])  # version 0; flags: LE byte order + XY envelope
        + struct.pack("<i", _SRS_ID)
        + struct.pack("<4d", xmin, xmax, ymin, ymax)
    )
    return header + bytes(wkb_bytes), (xmin, xmax, ymin, ymax)


def _ensure_gpkg(con: sqlite3.Connection) -> None:
    """Create the spec-required metadata tables + SRS rows once."""
    con.execute(f"PRAGMA application_id = {_APPLICATION_ID}")
    con.execute(f"PRAGMA user_version = {_USER_VERSION}")
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
             srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
             organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
             definition TEXT NOT NULL, description TEXT)"""
    )
    con.executemany(
        "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
        [
            ("WGS 84", 4326, "EPSG", 4326, _WGS84_WKT, None),
            ("Undefined cartesian SRS", -1, "NONE", -1, "undefined", None),
            ("Undefined geographic SRS", 0, "NONE", 0, "undefined", None),
        ],
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_contents (
             table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
             identifier TEXT UNIQUE, description TEXT DEFAULT '',
             last_change DATETIME NOT NULL DEFAULT
               (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
             min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
             srs_id INTEGER,
             CONSTRAINT fk_gc_r_srs_id FOREIGN KEY (srs_id)
               REFERENCES gpkg_spatial_ref_sys(srs_id))"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
             table_name TEXT NOT NULL, column_name TEXT NOT NULL,
             geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
             z TINYINT NOT NULL, m TINYINT NOT NULL,
             CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))"""
    )


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def write_gpkg(
    df: DataFrame,
    path: str,
    layer: str = "layer",
    mode: str = "w",
) -> int:
    """Write one layer into a GeoPackage; returns the feature count.

    ``mode='w'`` starts a fresh file, ``'a'`` appends a layer to an
    existing one — the reference's multi-layer loop writes the first
    layer with 'w' and the rest with 'a' (export.py:337-343)."""
    if mode == "w" and os.path.exists(path):
        os.remove(path)
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

    # an existing integral 'fid' column becomes THE primary key (the
    # round-trip case: read_gpkg_layer returns fid in every row dict) —
    # emitting it as a regular column alongside the synthesized
    # autoincrement key produced duplicate-column DDL (review r10)
    fid_field = next((f for f in df.schema.fields if f.name == "fid"), None)
    if fid_field is not None and not isinstance(
        fid_field.dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        raise ValueError(
            "GPKG layers key on an INTEGER fid; rename or cast the "
            f"non-integral 'fid' column ({fid_field.dataType.simpleString()})"
        )
    fields = [f for f in df.schema.fields if f.name not in (_GEOM_COL, "fid")]
    has_geom = any(f.name == _GEOM_COL for f in df.schema.fields)
    col_defs = ", ".join(
        f"{_q(f.name)} {_sqlite_type(f.dataType)}" for f in fields
    )
    con = sqlite3.connect(path)
    try:
        _ensure_gpkg(con)
        pk = (
            "fid INTEGER PRIMARY KEY"  # caller-supplied values
            if fid_field is not None
            else "fid INTEGER PRIMARY KEY AUTOINCREMENT"
        )
        ddl = f"CREATE TABLE {_q(layer)} ({pk}"
        if col_defs:
            ddl += ", " + col_defs
        if has_geom:
            ddl += f", {_q(_GEOM_COL)} BLOB"
        ddl += ")"
        con.execute(ddl)

        names = (
            (["fid"] if fid_field is not None else [])
            + [f.name for f in fields]
            + ([_GEOM_COL] if has_geom else [])
        )
        placeholders = ", ".join("?" for _ in names)
        insert = (
            f"INSERT INTO {_q(layer)} ({', '.join(_q(n) for n in names)}) "
            f"VALUES ({placeholders})"
        )

        ext = [None, None, None, None]  # min_x, min_y, max_x, max_y
        geom_types: set[str] = set()

        def _converter(f):
            # sqlite3 cannot bind decimal.Decimal (review r10 — verified
            # ProgrammingError), and binding date/datetime relies on the
            # deprecated default adapters; both columns are declared
            # REAL/TEXT, so convert driver-side
            if isinstance(f.dataType, T.DecimalType):
                # column affinity is REAL (see _sqlite_type), so wide
                # decimals (e.g. DECIMAL(38,0)) lose precision beyond
                # float53 — documented GPKG-sink semantics (ADVICE
                # r10): GeoPackage itself has no decimal type, and
                # matching readers (ogr2ogr) make the same trade. Cast
                # to string upstream to keep exact digits as TEXT.
                return float
            if isinstance(f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                return lambda v: v.isoformat()
            if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
                return str  # nested types stringify (GPKG is flat)
            return None

        convert = {f.name: _converter(f) for f in fields}

        def encode_row(row) -> tuple:
            vals: list = []
            if fid_field is not None:
                # NULL fids fail eagerly with a clear message: sqlite
                # would silently rowid-assign them, corrupting the
                # caller's keying on round-trip. DUPLICATE fids need no
                # seen-set: the PK constraint checks uniqueness, and
                # its error is re-raised below with the same clarity.
                # The whole insert is one transaction
                # (close-without-commit rolls back), so no partial
                # layer persists either way.
                fid = row["fid"]
                if fid is None:
                    raise ValueError(
                        "caller-supplied 'fid' column contains NULL; "
                        "GPKG primary keys must be non-null integers"
                    )
                vals.append(fid)
            for f in fields:
                v = row[f.name]
                c = convert[f.name]
                if v is not None and c is not None:
                    v = c(v)
                vals.append(v)
            if has_geom:
                wkb_bytes = row[_GEOM_COL]
                if wkb_bytes is None:
                    vals.append(None)
                else:
                    blob, bb = _gp_blob(bytes(wkb_bytes))
                    geom_types.add(W.geometry_type(bytes(wkb_bytes)))
                    if bb is not None:  # empty geoms carry no envelope
                        xmin, xmax, ymin, ymax = bb
                        ext[0] = xmin if ext[0] is None else min(ext[0], xmin)
                        ext[1] = ymin if ext[1] is None else min(ext[1], ymin)
                        ext[2] = xmax if ext[2] is None else max(ext[2], xmax)
                        ext[3] = ymax if ext[3] is None else max(ext[3], ymax)
                    vals.append(blob)
            return tuple(vals)

        rows = df.collect()
        try:
            con.executemany(insert, (encode_row(r) for r in rows))
        except sqlite3.IntegrityError as exc:
            # duplicate caller-supplied fid: sqlite's PK constraint is
            # the memory-free uniqueness check; translate its opaque
            # "UNIQUE constraint failed" into the sink's error contract
            # (the open transaction rolls back on close — no partial
            # layer persists). Match the full message shape — constraint
            # kind AND the .fid column suffix — so a layer NAME merely
            # containing 'fid' with a different integrity failure is
            # not mislabeled, and sqlite message drift falls through to
            # the raw error instead of silently mistranslating
            # (ADVICE r11).
            msg = str(exc)
            if (
                fid_field is not None
                and "UNIQUE constraint failed" in msg
                and msg.rstrip().endswith(".fid")
            ):
                raise ValueError(
                    "duplicate fid in caller-supplied 'fid' column; "
                    "GPKG primary keys must be unique"
                ) from exc
            raise

        type_name = (
            geom_types.pop().upper() if len(geom_types) == 1 else "GEOMETRY"
        )
        now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        # spec: 'features' REQUIRES a gpkg_geometry_columns row, so a
        # geometry-less layer registers as 'attributes' (review r10 —
        # the old 'features' row without one was spec-invalid)
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents "
            "(table_name, data_type, identifier, description, last_change, "
            " min_x, min_y, max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?,?,?)",
            (
                layer,
                "features" if has_geom else "attributes",
                layer, "", now,
                ext[0], ext[1], ext[2], ext[3], _SRS_ID,
            ),
        )
        if has_geom:
            con.execute(
                "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
                (layer, _GEOM_COL, type_name, _SRS_ID),
            )
        con.commit()
        return len(rows)
    finally:
        con.close()


def write_gpkg_layers(
    layers: dict[str, DataFrame], path: str, prefix: str | None = None
) -> dict[str, int]:
    """Multi-layer export — 'w' for the first layer, 'a' for the rest
    (reference export.py:337-343); optional ``{prefix}_{layer}`` table
    naming as the non-raw reference path does."""
    counts = {}
    for i, (name, df) in enumerate(layers.items()):
        table = f"{prefix}_{name}" if prefix else name
        counts[table] = write_gpkg(df, path, layer=table, mode="w" if i == 0 else "a")
    return counts


def add_gpkg_metadata(path: str, metadata: dict[str, str]) -> None:
    """Key/value ``metadata`` table (reference export.py:409-437)."""
    con = sqlite3.connect(path)
    try:
        con.execute(
            "CREATE TABLE IF NOT EXISTS metadata (key TEXT PRIMARY KEY, value TEXT)"
        )
        con.executemany(
            "INSERT OR REPLACE INTO metadata (key, value) VALUES (?, ?)",
            [(k, str(v)) for k, v in metadata.items()],
        )
        con.commit()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Read-back (round-trip tests + downstream consumers without GDAL)
# ---------------------------------------------------------------------------

def list_gpkg_layers(path: str) -> list[str]:
    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            "SELECT table_name FROM gpkg_contents WHERE data_type='features' "
            "ORDER BY table_name"
        ).fetchall()
        return [r[0] for r in rows]
    finally:
        con.close()


def read_gpkg_layer(path: str, layer: str) -> list[dict]:
    """Rows as dicts with the raw WKB restored from the GP blob."""
    con = sqlite3.connect(path)
    con.row_factory = sqlite3.Row
    try:
        out = []
        for row in con.execute(f"SELECT * FROM {_q(layer)} ORDER BY fid"):
            d = dict(row)
            blob = d.get(_GEOM_COL)
            if blob is not None:
                d[_GEOM_COL] = unwrap_gp_blob(bytes(blob))
            out.append(d)
        return out
    finally:
        con.close()


def unwrap_gp_blob(blob: bytes) -> bytes:
    """Strip the GP header (respecting its flags) → standard WKB.
    Malformed blobs raise ValueError per the module contract — never a
    bare KeyError/IndexError (review r10): indicators 5-7 are invalid
    per spec, and a blob shorter than the fixed 8-byte header cannot
    be a GP geometry at all."""
    if len(blob) < 8 or blob[:2] != b"GP":
        raise ValueError("not a GeoPackage geometry blob")
    flags = blob[3]
    envelope_ind = (flags >> 1) & 0b111
    env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}.get(envelope_ind)
    if env_len is None:
        raise ValueError(
            f"invalid GeoPackage envelope indicator {envelope_ind}"
        )
    return blob[8 + env_len :]

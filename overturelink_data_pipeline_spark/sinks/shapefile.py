"""S11 — ESRI Shapefile sink, pure stdlib (no GDAL needed).

The reference's raw-export path emits Shapefile through GDAL
(``COPY … TO path (FORMAT GDAL, DRIVER 'ESRI Shapefile')``,
source.py:617-676). The format itself is the public 1998 ESRI
whitepaper: a ``.shp`` of geometry records, a ``.shx`` offset index,
a dBASE III ``.dbf`` attribute table, plus ``.prj``/``.cpg``
sidecars — all fixed-layout binary, writable with ``struct`` alone,
which the engine already uses for WKB (geo/wkb.py).

Spec constraints honored rather than worked around:

- ONE shape type per file (whitepaper p.4): mixed-family frames must
  go through geo/split.py first, exactly the reference's
  ``geometry_split`` flow; mixing raises with that guidance.
- 10-char uppercase DBF field names, deduplicated with numeric
  suffixes (the classic shapefile truncation — same idea as the
  FileGDB 64-char truncation, reference export.py:389-397).
- dBASE has no NULL: numeric nulls serialize as spaces, text as
  blanks (what GDAL writes too).

Driver-bound single-file sink like gpkg.py — the documented envelope
is country-sized exports; the scalable bulk path remains
GeoParquet/GeoJSONSeq.
"""

from __future__ import annotations

import os
import struct
from datetime import date
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from overturelink_data_pipeline_spark.geo import geom as G
from overturelink_data_pipeline_spark.geo import wkb as W

_GEOM_COL = "geometry"

#: Family → shapefile shape-type code (whitepaper table 1, XY variants).
_SHAPE_TYPES = {
    "Point": 1,
    "LineString": 3,
    "MultiLineString": 3,
    "Polygon": 5,
    "MultiPolygon": 5,
    "MultiPoint": 8,
}

_WGS84_PRJ = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",'
    '6378137.0,298.257223563]],PRIMEM["Greenwich",0.0],'
    'UNIT["Degree",0.0174532925199433]]'
)


def shp_field_names(cols: list[str], limit: int = 10) -> dict[str, str]:
    """Original → DBF-legal name (≤10 chars, uppercase, deduplicated
    with numeric suffixes), mirroring fgdb_field_names' contract."""
    out: dict[str, str] = {}
    used: set[str] = set()
    for c in cols:
        base = c.upper()[:limit] or "F"
        cand, k = base, 1
        while cand in used:
            suf = str(k)
            cand = base[: limit - len(suf)] + suf
            k += 1
        used.add(cand)
        out[c] = cand
    return out


def _dbf_field_spec(dt: T.DataType) -> tuple[str, int, int]:
    """(type char, width, decimals) for one Spark column. Long width 20
    covers the full signed 64-bit range including the sign."""
    if isinstance(dt, T.BooleanType):
        return ("L", 1, 0)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return ("N", 20, 0)
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return ("N", 24, 10)
    return ("C", 254, 0)


def _fmt_cell(v: Any, spec: tuple[str, int, int]) -> bytes:
    t, w, d = spec
    if t == "L":
        s = "?" if v is None else ("T" if v else "F")
        return s.encode()
    if t == "N":
        if v is None:
            return b" " * w
        s = f"{v:.{d}f}" if d else str(int(v))
        if len(s) > w and d:
            # shave decimals before ever touching integer digits (what
            # GDAL does when a double outgrows the declared width)
            int_len = len(s) - d - 1
            keep = max(0, w - int_len - 1)
            s = f"{v:.{keep}f}" if keep else str(int(v))
        if len(s) > w:
            # integer part alone exceeds the field — refuse to write a
            # silently-corrupted attribute
            raise ValueError(
                f"numeric value {v!r} exceeds DBF field width {w}"
            )
        return s.rjust(w).encode()
    # C: text, UTF-8, space-padded / truncated at a CHARACTER boundary
    # (review r10: a raw byte slice can split a multibyte sequence —
    # the .cpg sidecar declares UTF-8, so readers would hit a decode
    # error on that cell; trim back to the last complete character)
    s = b"" if v is None else str(v).encode("utf-8")[:w]
    s = s.decode("utf-8", "ignore").encode("utf-8")  # drop a cut tail
    return s.ljust(w)


# EMPTY geometries (POINT EMPTY parses to ('Point', None); empty
# coordinate lists for the others) are representable only as Null
# Shape records — the coordinate encoders would crash on them. The
# predicate lives in geo.geom.is_empty (shared with the FlatGeobuf
# sink). A geometry that is non-empty overall may still CONTAIN empty
# parts (a Polygon with one real ring and one zero-point ring); those
# parts are filtered below rather than emitted as malformed
# zero-point rings/paths.


# -- geometry encoders (all little-endian after the int32 type code) ----


def _enc_point(geom: W.Geom) -> bytes:
    x, y = geom[1]
    return struct.pack("<i2d", 1, x, y)


def _paths_of(geom: W.Geom) -> list[list[tuple[float, float]]]:
    kind, data = geom
    if kind == "LineString":
        return [data]
    # MultiLineString children; drop EMPTY members (no coordinates)
    return [child[1] for child in data if child[1]]


def _ring_cw(ring: list[tuple[float, float]], outer: bool) -> list[tuple[float, float]]:
    """Shapefile ring order: outer rings clockwise, holes CCW
    (whitepaper p.12). Signed shoelace area > 0 means CCW."""
    area2 = sum(
        (x1 * y2 - x2 * y1)
        for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1])
    )
    ccw = area2 > 0
    if (outer and ccw) or (not outer and not ccw):
        return ring[::-1]
    return ring


def _enc_multipart(shape_type: int, parts: list[list[tuple[float, float]]]) -> bytes:
    pts = [p for part in parts for p in part]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    out = bytearray(
        struct.pack(
            "<i4d2i",
            shape_type,
            min(xs), min(ys), max(xs), max(ys),
            len(parts), len(pts),
        )
    )
    off = 0
    for part in parts:
        out += struct.pack("<i", off)
        off += len(part)
    for x, y in pts:
        out += struct.pack("<2d", x, y)
    return bytes(out)


def _enc_multipoint(geom: W.Geom) -> bytes:
    # drop POINT EMPTY members (body None) — no coordinates to emit
    pts = [child[1] for child in geom[1] if child[1] is not None]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    out = bytearray(
        struct.pack("<i4di", 8, min(xs), min(ys), max(xs), max(ys), len(pts))
    )
    for x, y in pts:
        out += struct.pack("<2d", x, y)
    return bytes(out)


def _encode_shape(geom: W.Geom, shape_type: int) -> bytes:
    kind = geom[0]
    if shape_type == 1:
        return _enc_point(geom)
    if shape_type == 3:
        return _enc_multipart(3, _paths_of(geom))
    if shape_type == 5:
        # drop empty rings before orientation/encoding: a zero-point
        # ring is malformed per the whitepaper (and _ring_cw would
        # mis-index which ring counts as the outer one after it)
        if kind == "Polygon":
            polys = [geom[1]]
        else:
            polys = [child[1] for child in geom[1]]
        rings = [
            _ring_cw(r, outer=(i == 0))
            for poly in polys
            for i, r in enumerate([ring for ring in poly if ring])
        ]
        return _enc_multipart(5, rings)
    if shape_type == 8:
        return _enc_multipoint(geom)
    raise ValueError(f"unsupported shape type {shape_type}")


def _shp_header(shape_type: int, file_len_words: int, bbox) -> bytes:
    xmin, ymin, xmax, ymax = bbox
    return (
        struct.pack(">i5i i", 9994, 0, 0, 0, 0, 0, file_len_words)
        + struct.pack("<2i", 1000, shape_type)
        + struct.pack("<8d", xmin, ymin, xmax, ymax, 0.0, 0.0, 0.0, 0.0)
    )


def write_shapefile(df: DataFrame, path: str) -> int:
    """Write ``df`` (with a WKB ``geometry`` column) as a shapefile;
    ``path`` is the ``.shp`` path, siblings get the same stem. Returns
    the feature count. Null geometries write as Null Shape records
    (type 0), matching GDAL. The frame is collected to the driver and
    every record is held until the headers are written, so driver
    memory grows with the frame."""
    stem, ext = os.path.splitext(path)
    if ext.lower() != ".shp":
        stem = path
    os.makedirs(os.path.dirname(os.path.abspath(stem + ".shp")), exist_ok=True)

    fields = [f for f in df.schema.fields if f.name != _GEOM_COL]
    names = shp_field_names([f.name for f in fields])
    specs = {f.name: _dbf_field_spec(f.dataType) for f in fields}
    simple = {
        f.name: not isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType))
        for f in fields
    }

    shp_records: list[bytes] = []
    dbf_records: list[bytes] = []
    shape_type: int | None = None
    ext_box = [None, None, None, None]

    for row in df.collect():
        wkb_bytes = row[_GEOM_COL]
        geom = None if wkb_bytes is None else W.loads(bytes(wkb_bytes))
        if geom is None or G.is_empty(geom):
            # SQL NULL and EMPTY geometries both write as Null Shape
            # (the coordinate encoders would crash on empty bodies)
            shp_records.append(struct.pack("<i", 0))
        else:
            st = _SHAPE_TYPES.get(geom[0])
            if st is None:
                raise ValueError(
                    f"geometry type {geom[0]} not representable in a shapefile"
                )
            if shape_type is None:
                shape_type = st
            elif st != shape_type:
                raise ValueError(
                    "shapefiles hold ONE shape type; split mixed frames "
                    "with geo.split.split_by_geometry first (the "
                    "reference's geometry_split flow)"
                )
            shp_records.append(_encode_shape(geom, st))
            xmin, xmax, ymin, ymax = G.bbox(geom)
            ext_box[0] = xmin if ext_box[0] is None else min(ext_box[0], xmin)
            ext_box[1] = ymin if ext_box[1] is None else min(ext_box[1], ymin)
            ext_box[2] = xmax if ext_box[2] is None else max(ext_box[2], xmax)
            ext_box[3] = ymax if ext_box[3] is None else max(ext_box[3], ymax)
        cells = []
        for f in fields:
            v = row[f.name]
            if v is not None and not simple[f.name]:
                v = str(v)
            cells.append(_fmt_cell(v, specs[f.name]))
        dbf_records.append(b" " + b"".join(cells))

    n = len(shp_records)
    bbox = tuple(v if v is not None else 0.0 for v in ext_box)
    st_final = shape_type or 0

    # .shp + .shx (lengths/offsets in 16-bit words, big-endian)
    shp_body = bytearray()
    shx_body = bytearray()
    offset_words = 50  # header = 100 bytes
    for i, content in enumerate(shp_records, start=1):
        clen_words = len(content) // 2
        shp_body += struct.pack(">2i", i, clen_words) + content
        shx_body += struct.pack(">2i", offset_words, clen_words)
        offset_words += 4 + clen_words
    with open(stem + ".shp", "wb") as f:
        f.write(_shp_header(st_final, 50 + len(shp_body) // 2, bbox))
        f.write(shp_body)
    with open(stem + ".shx", "wb") as f:
        f.write(_shp_header(st_final, 50 + len(shx_body) // 2, bbox))
        f.write(shx_body)

    # .dbf (dBASE III)
    _today = date.today()
    rec_size = 1 + sum(specs[f.name][1] for f in fields)
    hdr_size = 32 + 32 * len(fields) + 1
    dbf = bytearray()
    dbf += struct.pack(
        "<4B i 2H 20x",
        3,
        # dBASE last-update stamp: YY is years since 1900 (so 2026 →
        # 126); a fixed (26, 8, 13) would decode as 1926-08-13
        max(0, min(255, _today.year - 1900)),
        _today.month,
        _today.day,
        n,
        hdr_size,
        rec_size
    )
    for f in fields:
        t, w, d = specs[f.name]
        dbf += names[f.name].encode().ljust(11, b"\x00")
        dbf += t.encode()
        dbf += b"\x00" * 4
        dbf += bytes([w, d])
        dbf += b"\x00" * 14
    dbf += b"\x0d"
    for rec in dbf_records:
        dbf += rec
    dbf += b"\x1a"
    with open(stem + ".dbf", "wb") as f:
        f.write(dbf)

    with open(stem + ".prj", "w") as f:
        f.write(_WGS84_PRJ)
    with open(stem + ".cpg", "w") as f:
        f.write("UTF-8")
    return n


def read_shapefile(path: str) -> list[dict]:
    """Minimal read-back for round-trip tests: geometry bboxes +
    attribute strings (not a full parser — enough to verify counts,
    shape types, and field values survive)."""
    stem, _ = os.path.splitext(path)
    out: list[dict] = []
    with open(stem + ".shp", "rb") as f:
        data = f.read()
    (shape_type,) = struct.unpack_from("<i", data, 32)
    off = 100
    shapes = []
    while off < len(data):
        _, clen = struct.unpack_from(">2i", data, off)
        st = struct.unpack_from("<i", data, off + 8)[0]
        shapes.append((st, data[off + 8 : off + 8 + clen * 2]))
        off += 8 + clen * 2
    with open(stem + ".dbf", "rb") as f:
        dbf = f.read()
    n, hdr_size, rec_size = struct.unpack_from("<i2H", dbf, 4)
    nfields = (hdr_size - 33) // 32
    fields = []
    for i in range(nfields):
        base = 32 + 32 * i
        name = dbf[base : base + 11].split(b"\x00")[0].decode()
        ftype = chr(dbf[base + 11])
        w = dbf[base + 16]
        fields.append((name, ftype, w))
    for i in range(n):
        rec = dbf[hdr_size + i * rec_size : hdr_size + (i + 1) * rec_size]
        vals, p = {}, 1
        for name, ftype, w in fields:
            raw = rec[p : p + w]
            vals[name] = raw.decode("utf-8", "replace").strip()
            p += w
        st, body = shapes[i] if i < len(shapes) else (0, b"")
        out.append({"shape_type": st, "attrs": vals})
    return out

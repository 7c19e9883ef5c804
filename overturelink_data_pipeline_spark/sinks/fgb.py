"""S11 — FlatGeobuf sink, pure stdlib (no GDAL, no flatbuffers lib).

The reference's raw-export path lists FlatGeobuf among its GDAL
drivers (``COPY … TO path (FORMAT GDAL)``, source.py:617-676). The
format itself is public (https://flatgeobuf.org, spec v3): 8 magic
bytes, a size-prefixed FlatBuffers ``Header`` table, an optional
packed-Hilbert R-tree index, then one size-prefixed FlatBuffers
``Feature`` per row. This writer emits the unindexed layout
(``index_node_size = 0`` — the spec's streaming-friendly form; the
index is an optional read optimization, not part of the data model).

FlatBuffers is itself a public, fixed binary convention (vtables +
little-endian scalars + relative offsets), so the tiny builder/reader
here implements exactly the subset the FGB tables need — the same
"public spec over stdlib struct" approach as sinks/shapefile.py and
sinks/gpkg.py. Schema (Header/Column/Feature/Geometry field slots and
the property wire encoding) follows the published .fbs files.

Driver-bound single-file sink like the other raw-export writers: the
frame is collected to the driver, so driver memory grows with it. The
documented envelope is country-sized exports; GeoJSONSeq and
GeoParquet are the scalable sinks (SURVEY.md §7.3).
"""

from __future__ import annotations

import os
import struct
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from overturelink_data_pipeline_spark.geo import wkb as W
from overturelink_data_pipeline_spark.geo.geom import bbox as _bbox
from overturelink_data_pipeline_spark.geo.geom import is_empty as _is_empty

_GEOM_COL = "geometry"

#: Spec v3 magic: 'f','g','b', major(3), 'f','g','b', patch(1).
MAGIC = b"fgb\x03fgb\x01"

#: GeometryType enum (fgb spec / WKB-aligned).
_GEOM_TYPES = {
    "Point": 1,
    "LineString": 2,
    "Polygon": 3,
    "MultiPoint": 4,
    "MultiLineString": 5,
    "MultiPolygon": 6,
    "GeometryCollection": 7,
}
_GEOM_NAMES = {v: k for k, v in _GEOM_TYPES.items()}

#: ColumnType enum values used here (fgb spec).
_CT_BOOL = 2
_CT_LONG = 7
_CT_DOUBLE = 10
_CT_STRING = 11
_CT_BINARY = 14


def _column_type(dt: T.DataType) -> int:
    if isinstance(dt, T.BooleanType):
        return _CT_BOOL
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return _CT_LONG
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return _CT_DOUBLE
    if isinstance(dt, T.BinaryType):
        return _CT_BINARY
    return _CT_STRING  # stringify everything else (struct/array/date…)


# ---------------------------------------------------------------------------
# Minimal FlatBuffers builder (back-to-front, vtable layout per the
# public wire format). Only what Header/Column/Feature/Geometry need:
# scalar fields, offset fields, strings, scalar vectors, offset vectors.
# ---------------------------------------------------------------------------


class _Builder:
    def __init__(self) -> None:
        self._buf = bytearray()
        self._minalign = 1
        self._vtable: list[int] | None = None
        self._object_end = 0

    # offset == distance from buffer END to the item's first byte
    def offset(self) -> int:
        return len(self._buf)

    def _pad(self, n: int) -> None:
        if n:
            self._buf[:0] = b"\x00" * n

    def prep(self, size: int, additional: int) -> None:
        self._minalign = max(self._minalign, size)
        rem = (len(self._buf) + additional) % size
        if rem:
            self._pad(size - rem)  # one batched pad, not per-byte moves

    def _place(self, fmt: str, v: Any) -> None:
        self._buf[:0] = struct.pack(fmt, v)

    def _place_bytes(self, b: bytes) -> None:
        self._buf[:0] = b

    def _prepend_uoffset(self, off: int) -> None:
        self.prep(4, 0)
        self._place("<I", self.offset() - off + 4)

    def create_string(self, s: str) -> int:
        data = s.encode("utf-8")
        self.prep(4, len(data) + 1)
        self._place_bytes(b"\x00")
        self._place_bytes(data)
        self._place("<I", len(data))
        return self.offset()

    def create_scalar_vector(self, fmt: str, size: int, values) -> int:
        # ONE batched pack + prepend: element-at-a-time `self._buf[:0]`
        # is an O(len(buf)) memmove per element, making geometry
        # encoding O(vertices²) — measured 2k verts 2 ms → 32k verts
        # 421 ms (~14× per 4×) before this fix; a country polygon's
        # ring would take minutes (review r10)
        values = list(values)
        self.prep(4, len(values) * size)
        self.prep(size, len(values) * size)
        if values:
            self._place_bytes(struct.pack(f"<{len(values)}{fmt[-1]}", *values))
        self._place("<I", len(values))
        return self.offset()

    def create_bytes_vector(self, data: bytes) -> int:
        self.prep(4, len(data))
        self._place_bytes(data)
        self._place("<I", len(data))
        return self.offset()

    def create_offset_vector(self, offs: list[int]) -> int:
        self.prep(4, len(offs) * 4)
        for o in reversed(offs):
            self._prepend_uoffset(o)
        self._place("<I", len(offs))
        return self.offset()

    def start_table(self, nslots: int) -> None:
        self._vtable = [0] * nslots
        self._object_end = self.offset()

    def slot_scalar(
        self, slot: int, fmt: str, size: int, v: Any, default: Any
    ) -> None:
        if v == default:
            return
        self.prep(size, 0)
        self._place(fmt, v)
        self._vtable[slot] = self.offset()

    def slot_offset(self, slot: int, off: int) -> None:
        if not off:
            return
        self._prepend_uoffset(off)
        self._vtable[slot] = self.offset()

    def end_table(self) -> int:
        # placeholder soffset32 → vtable, patched below
        self.prep(4, 0)
        self._place("<i", 0)
        object_off = self.offset()
        vt = list(self._vtable)
        self._vtable = None
        while vt and vt[-1] == 0:
            vt.pop()
        for v in reversed(vt):
            self._place("<H", (object_off - v) if v else 0)
        self._place("<H", object_off - self._object_end)
        self._place("<H", (len(vt) + 2) * 2)
        vt_off = self.offset()
        struct.pack_into(
            "<i", self._buf, len(self._buf) - object_off, vt_off - object_off
        )
        return object_off

    def finish_size_prefixed(self, root: int) -> bytes:
        self.prep(self._minalign, 4)
        self._prepend_uoffset(root)
        return struct.pack("<I", len(self._buf)) + bytes(self._buf)


# ---------------------------------------------------------------------------
# Geometry encoding: engine geometry tuples → FGB Geometry table fields.
# ``xy`` is the flat coordinate vector; ``ends`` holds per-part END
# vertex indices (exclusive, cumulative); nested MultiPolygon /
# GeometryCollection use ``parts`` of child Geometry tables.
# ---------------------------------------------------------------------------


def _flat_parts(geom: W.Geom) -> tuple[list[float], list[int]]:
    kind, body = geom
    if kind == "Point":
        return [body[0], body[1]], []
    if kind == "LineString":
        xy: list[float] = []
        for x, y in body:
            xy.extend((x, y))
        return xy, []
    if kind == "MultiPoint":
        # children are typed ("Point", (x, y)) tuples (geo/wkb.py model);
        # drop POINT EMPTY members (body None) — no coordinates to emit
        xy = []
        for _, p in body:
            if p is not None:
                xy.extend((p[0], p[1]))
        return xy, []
    if kind == "Polygon":
        rings = body
    elif kind == "MultiLineString":
        rings = [child[1] for child in body]  # typed LineString children
    else:
        raise ValueError(f"_flat_parts cannot flatten {kind}")
    # drop empty parts BEFORE computing ends: a zero-vertex part would
    # emit a duplicated end index (a degenerate part readers can
    # reject) — same rule the shapefile encoder applies
    rings = [r for r in rings if r]
    xy = []
    ends: list[int] = []
    n = 0
    for ring in rings:
        for x, y in ring:
            xy.extend((x, y))
        n += len(ring)
        ends.append(n)
    return xy, ends


def _build_geometry(b: _Builder, geom: W.Geom) -> int:
    kind = geom[0]
    gtype = _GEOM_TYPES[kind]
    if kind in ("MultiPolygon", "GeometryCollection"):
        # drop EMPTY children before recursing (review r10): a child
        # like POINT EMPTY carries body None, and the coordinate
        # flattener would crash on it — same rule as _flat_parts'
        # member drops; the container itself was already screened by
        # is_empty, so at least one non-empty child remains
        part_offs = [
            _build_geometry(b, child)
            for child in geom[1]
            if not _is_empty(child)
        ]
        parts_vec = b.create_offset_vector(part_offs)
        b.start_table(8)
        b.slot_scalar(6, "<B", 1, gtype, 0)
        b.slot_offset(7, parts_vec)
        return b.end_table()
    xy, ends = _flat_parts(geom)
    ends_vec = b.create_scalar_vector("<I", 4, ends) if len(ends) > 1 else 0
    xy_vec = b.create_scalar_vector("<d", 8, xy)
    b.start_table(8)
    b.slot_offset(0, ends_vec)
    b.slot_offset(1, xy_vec)
    b.slot_scalar(6, "<B", 1, gtype, 0)
    return b.end_table()


def _encode_properties(
    row, fields: list[tuple[int, str, int]]
) -> bytes:
    """fgb property wire format: per non-null column, uint16 column
    index then the value (fixed-width scalars; uint32-length-prefixed
    bytes for String/Binary)."""
    out = bytearray()
    for idx, name, ctype in fields:
        v = row[name]
        if v is None:
            continue
        out += struct.pack("<H", idx)
        if ctype == _CT_BOOL:
            out += struct.pack("<B", 1 if v else 0)
        elif ctype == _CT_LONG:
            out += struct.pack("<q", int(v))
        elif ctype == _CT_DOUBLE:
            out += struct.pack("<d", float(v))
        elif ctype == _CT_BINARY:
            data = bytes(v)
            out += struct.pack("<I", len(data)) + data
        else:
            data = str(v).encode("utf-8")
            out += struct.pack("<I", len(data)) + data
    return bytes(out)


def _build_column(b: _Builder, name: str, ctype: int) -> int:
    name_off = b.create_string(name)
    b.start_table(11)
    b.slot_offset(0, name_off)
    b.slot_scalar(1, "<B", 1, ctype, 0)
    return b.end_table()


def _build_header(
    name: str,
    geometry_type: int,
    columns: list[tuple[int, str, int]],
    features_count: int,
    envelope: list[float] | None,
) -> bytes:
    b = _Builder()
    col_offs = [_build_column(b, cname, ct) for _, cname, ct in columns]
    cols_vec = b.create_offset_vector(col_offs)
    env_vec = (
        b.create_scalar_vector("<d", 8, envelope) if envelope else 0
    )
    name_off = b.create_string(name)
    b.start_table(14)
    b.slot_offset(0, name_off)
    b.slot_offset(1, env_vec)
    b.slot_scalar(2, "<B", 1, geometry_type, 0)
    b.slot_offset(7, cols_vec)
    b.slot_scalar(8, "<Q", 8, features_count, 0)
    # index_node_size default is 16 → MUST be written explicitly as 0
    # to declare "no spatial index section follows". prep+place+slot
    # via a non-default sentinel: slot_scalar skips only on default.
    b.slot_scalar(9, "<H", 2, 0, 16)
    return b.finish_size_prefixed(b.end_table())


def _build_feature(geom: W.Geom | None, props: bytes) -> bytes:
    b = _Builder()
    props_vec = b.create_bytes_vector(props) if props else 0
    geom_off = _build_geometry(b, geom) if geom is not None else 0
    b.start_table(3)
    b.slot_offset(0, geom_off)
    b.slot_offset(1, props_vec)
    return b.finish_size_prefixed(b.end_table())


def write_fgb(df: DataFrame, path: str, name: str = "layer") -> int:
    """Write ``df`` (with a WKB ``geometry`` column) as an unindexed
    FlatGeobuf file; returns the feature count.

    The frame is collected to the driver. Header ``features_count``
    and the envelope are exact, and both live BEFORE the features in
    the file, so the encoded features wait in a list until the last
    row is seen; driver memory grows with the frame. Header
    ``geometry_type`` is the concrete type when the frame is uniform,
    else Unknown (0) with per-feature types — the spec's
    mixed-geometry form, so no pre-split is required (unlike the
    shapefile sink).
    """
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    fields = [
        (i, f.name, _column_type(f.dataType))
        for i, f in enumerate(
            f for f in df.schema.fields if f.name != _GEOM_COL
        )
    ]

    feature_bufs: list[bytes] = []
    geom_types: set[int] = set()
    box = [None, None, None, None]
    for row in df.collect():
        wkb_bytes = row[_GEOM_COL]
        geom = None
        if wkb_bytes is not None:
            geom = W.loads(bytes(wkb_bytes))
            if _is_empty(geom):
                # EMPTY geometries (POINT EMPTY → ('Point', None), empty
                # coordinate lists) carry no coordinates to flatten or
                # bound — write them as geometry-less features, the same
                # treatment as SQL NULL (the coordinate flattener and
                # bbox fold would crash on the empty bodies)
                geom = None
        if geom is not None:
            geom_types.add(_GEOM_TYPES[geom[0]])
            # geo.geom.bbox, not a private duplicate (review r10: the
            # local copy crashed on Multi*/GC with EMPTY members, which
            # bbox's coordinate iterator simply skips); note its
            # (xmin, xmax, ymin, ymax) order
            gx0, gx1, gy0, gy1 = _bbox(geom)
            if gx0 <= gx1:  # guard: all-empty members → sentinel
                box[0] = gx0 if box[0] is None else min(box[0], gx0)
                box[1] = gy0 if box[1] is None else min(box[1], gy0)
                box[2] = gx1 if box[2] is None else max(box[2], gx1)
                box[3] = gy1 if box[3] is None else max(box[3], gy1)
        feature_bufs.append(_build_feature(geom, _encode_properties(row, fields)))

    n = len(feature_bufs)
    header_type = geom_types.pop() if len(geom_types) == 1 else 0
    envelope = None if box[0] is None else [float(v) for v in box]
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(_build_header(name, header_type, fields, n, envelope))
        f.writelines(feature_bufs)
    return n


# ---------------------------------------------------------------------------
# Reader — round-trip verification + GDAL-free downstream consumers,
# mirroring gpkg.py's read-back section.
# ---------------------------------------------------------------------------


def _u16(buf: bytes, pos: int) -> int:
    return struct.unpack_from("<H", buf, pos)[0]


def _u32(buf: bytes, pos: int) -> int:
    return struct.unpack_from("<I", buf, pos)[0]


def _field_pos(buf: bytes, table: int, slot: int) -> int:
    """Absolute position of a table field, or 0 when absent."""
    soff = struct.unpack_from("<i", buf, table)[0]
    vt = table - soff
    fo = 4 + slot * 2
    if fo >= _u16(buf, vt):
        return 0
    rel = _u16(buf, vt + fo)
    return table + rel if rel else 0


def _read_scalar(buf, table, slot, fmt, default):
    pos = _field_pos(buf, table, slot)
    return struct.unpack_from(fmt, buf, pos)[0] if pos else default


def _read_string(buf: bytes, table: int, slot: int) -> str | None:
    pos = _field_pos(buf, table, slot)
    if not pos:
        return None
    s = pos + _u32(buf, pos)
    n = _u32(buf, s)
    return buf[s + 4 : s + 4 + n].decode("utf-8")


def _read_vector(buf: bytes, table: int, slot: int) -> tuple[int, int]:
    """(element start, length) of a vector field, or (0, 0)."""
    pos = _field_pos(buf, table, slot)
    if not pos:
        return 0, 0
    v = pos + _u32(buf, pos)
    return v + 4, _u32(buf, v)


def _read_geometry(buf: bytes, table: int, outer_type: int) -> W.Geom:
    gtype = _read_scalar(buf, table, 6, "<B", 0) or outer_type
    kind = _GEOM_NAMES[gtype]
    if kind in ("MultiPolygon", "GeometryCollection"):
        start, n = _read_vector(buf, table, 7)
        children = []
        for i in range(n):
            off = start + i * 4
            children.append(_read_geometry(buf, off + _u32(buf, off), 0))
        return (kind, children)
    xy_start, xy_n = _read_vector(buf, table, 1)
    coords = [
        struct.unpack_from("<2d", buf, xy_start + i * 16)
        for i in range(xy_n // 2)
    ]
    if kind == "Point":
        return ("Point", coords[0])
    if kind == "LineString":
        return (kind, coords)
    if kind == "MultiPoint":
        return (kind, [("Point", p) for p in coords])
    ends_start, ends_n = _read_vector(buf, table, 0)
    if ends_n:
        ends = [
            _u32(buf, ends_start + i * 4) for i in range(ends_n)
        ]
    else:
        ends = [len(coords)]
    rings, prev = [], 0
    for e in ends:
        rings.append(coords[prev:e])
        prev = e
    if kind == "MultiLineString":
        return (kind, [("LineString", r) for r in rings])
    return (kind, rings)


def _decode_properties(
    data: bytes, columns: list[tuple[str, int]]
) -> dict[str, Any]:
    out: dict[str, Any] = {}
    pos = 0
    while pos < len(data):
        idx = _u16(data, pos)
        pos += 2
        cname, ctype = columns[idx]
        if ctype == _CT_BOOL:
            out[cname] = bool(data[pos])
            pos += 1
        elif ctype == _CT_LONG:
            out[cname] = struct.unpack_from("<q", data, pos)[0]
            pos += 8
        elif ctype == _CT_DOUBLE:
            out[cname] = struct.unpack_from("<d", data, pos)[0]
            pos += 8
        else:
            n = _u32(data, pos)
            pos += 4
            raw = data[pos : pos + n]
            pos += n
            out[cname] = raw if ctype == _CT_BINARY else raw.decode("utf-8")
    return out


def read_fgb(path: str) -> dict[str, Any]:
    """Parse an (unindexed) FlatGeobuf file back into
    ``{name, geometry_type, features_count, columns, features}`` where
    each feature is ``{"geometry": Geom | None, "properties": dict}``.
    """
    with open(path, "rb") as f:
        data = f.read()
    if data[:3] != MAGIC[:3] or data[3] != MAGIC[3]:
        raise ValueError("not a FlatGeobuf v3 file")
    pos = 8
    hlen = _u32(data, pos)
    header = data[pos + 4 : pos + 4 + hlen]
    pos += 4 + hlen
    root = _u32(header, 0)
    name = _read_string(header, root, 0)
    geometry_type = _read_scalar(header, root, 2, "<B", 0)
    features_count = _read_scalar(header, root, 8, "<Q", 0)
    index_node_size = _read_scalar(header, root, 9, "<H", 16)
    if index_node_size:
        raise ValueError(
            "indexed FlatGeobuf not supported by this reader "
            "(writer emits index_node_size=0)"
        )
    cstart, cn = _read_vector(header, root, 7)
    columns: list[tuple[str, int]] = []
    for i in range(cn):
        off = cstart + i * 4
        ctable = off + _u32(header, off)
        columns.append(
            (
                _read_string(header, ctable, 0),
                _read_scalar(header, ctable, 1, "<B", 0),
            )
        )

    features = []
    while pos < len(data):
        flen = _u32(data, pos)
        fbuf = data[pos + 4 : pos + 4 + flen]
        pos += 4 + flen
        froot = _u32(fbuf, 0)
        gpos = _field_pos(fbuf, froot, 0)
        geom = None
        if gpos:
            geom = _read_geometry(fbuf, gpos + _u32(fbuf, gpos), geometry_type)
        pstart, pn = _read_vector(fbuf, froot, 1)
        props = _decode_properties(fbuf[pstart : pstart + pn], columns)
        features.append({"geometry": geom, "properties": props})
    return {
        "name": name,
        "geometry_type": geometry_type,
        "features_count": features_count,
        "columns": columns,
        "features": features,
    }

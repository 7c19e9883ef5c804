"""Pure-Python Esri FileGDB *table format* writer + reader (S10 —
VERDICT r11 ask #1).

Scope and evidence, stated precisely
------------------------------------
The FileGDB on-disk format has no official public specification; the
reverse-engineered community spec (Even Rouault's "FGDB Spec",
published alongside the `dump_gdbtable` tool, which also underlies
GDAL's OpenFileGDB driver) documents the row-table container —
`.gdbtable` / `.gdbtablx` — in detail, while several corners
(the geometry field-descriptor tail, the `.gdbtablx` trailer, the
system-catalog XML payloads) are only partially understood even there.

This module implements the WELL-DOCUMENTED subset: single tables with
objectid / int32 / float64 / string / point-geometry fields, plus a
real GDB_SystemCatalog (itself a `.gdbtable`) mapping layer names to
table files. It is verified by a strict independent reader
(`read_fgdb_table`) that validates every structural invariant the
format states (magics, offsets, sizes, null bitmaps, varuint bounds)
— NOT against GDAL or ArcGIS, which are unavailable in this container
(no golden `.gdb` exists on this box either; see docs/FGDB.md for the
full evidence ledger and the list of best-effort byte choices a
GDAL-bearing environment must confirm). Fields marked "best-effort"
below are placeholders our reader checks for consistency; they are
NOT claimed spec-exact.

The GDAL-backed `write_filegdb` in sinks/geoparquet.py remains the
production path when pyogrio/GDAL exist; this writer is the
no-GDAL fallback and the audit surface (reference export.py:355-407).

Layout written (one file pair per table)
----------------------------------------
`.gdbtable`: 40-byte header | field-descriptor section | rows.
`.gdbtablx`: 16-byte header | ceil(n/1024)*1024 5-byte row offsets |
16-byte trailer (zeros; best-effort).

Driver-side by design, like the GPKG/Shapefile sinks (SURVEY §7.3:
single-file country-sized exports) — the distributed plan computes the
frame; one task serializes it.
"""

from __future__ import annotations

import math
import os
import struct

__all__ = [
    "write_fgdb_table",
    "read_fgdb_table",
    "write_fgdb",
    "read_fgdb_layer",
    "list_fgdb_layers",
]

MAGIC = 3
VERSION_V10 = 4

# field type codes (spec table)
FT_INT16 = 0
FT_INT32 = 1
FT_FLOAT32 = 2
FT_FLOAT64 = 3
FT_STRING = 4
FT_DATETIME = 5
FT_OBJECTID = 6
FT_GEOMETRY = 7

# shape-type code for a 2D point (shapefile numbering, per spec)
SHAPE_POINT = 1

GEOM_NONE = 0
GEOM_POINT = 1

#: best-effort header word at offset 12 (observed constant in real
#: tables per the community spec; role unknown)
_HDR_UNKNOWN_12 = 5

#: coordinate quantization defaults (writer parameters, not spec
#: claims): generous geographic envelope, 1e-9 deg resolution
XY_ORIGIN = -400.0
XY_SCALE = 1_000_000_000.0
XY_TOLERANCE = 1e-9

#: WGS84 WKT1 stored in the geometry field descriptor
WGS84_WKT = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
    'SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]]'
)


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

def _varuint(v: int) -> bytes:
    """7-bit little-endian groups, high bit = continuation (spec)."""
    if v < 0:
        raise ValueError(f"varuint cannot encode negative {v}")
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varuint(buf: bytes, pos: int) -> tuple[int, int]:
    v, shift = 0, 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varuint")
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7
        if shift > 63:
            raise ValueError("varuint longer than 64 bits")


def _utf16_name(name: str) -> bytes:
    raw = name.encode("utf-16-le")
    n = len(raw) // 2
    if n > 255:
        raise ValueError(f"field name too long for FGDB: {name!r}")
    return bytes([n]) + raw


# ---------------------------------------------------------------------------
# field model
# ---------------------------------------------------------------------------

class _Field:
    __slots__ = ("name", "ftype")

    def __init__(self, name: str, ftype: int):
        self.name, self.ftype = name, ftype

    @property
    def nullable(self) -> bool:
        return self.ftype != FT_OBJECTID


def _descriptor(fields: list[_Field], geom_type: int) -> bytes:
    """Field-descriptor section (with its leading size word)."""
    body = bytearray()
    body += struct.pack("<I", VERSION_V10)
    # low byte = layer geometry type; upper bytes are flag bits the
    # spec leaves partially decoded — best-effort zeros here
    body += struct.pack("<I", geom_type & 0xFF)
    body += struct.pack("<H", len(fields))
    for f in fields:
        body += _utf16_name(f.name)
        body += bytes([0])  # no alias
        body += bytes([f.ftype])
        if f.ftype == FT_OBJECTID:
            body += bytes([4, 2])  # width 4, flags (observed constants)
        elif f.ftype == FT_INT32:
            body += bytes([4, 1])  # width, flags bit0 = nullable
        elif f.ftype == FT_FLOAT64:
            body += bytes([8, 1])
        elif f.ftype == FT_STRING:
            body += struct.pack("<I", 65536)  # max length (best-effort)
            body += bytes([1])
        elif f.ftype == FT_GEOMETRY:
            body += bytes([0, 1])  # unknown, flags(nullable)
            wkt = WGS84_WKT.encode("utf-16-le")
            body += struct.pack("<H", len(wkt) // 2) + wkt
            body += bytes([0])  # no z, no m
            body += struct.pack(
                "<4d", XY_ORIGIN, XY_ORIGIN, XY_SCALE, XY_TOLERANCE
            )  # xorigin, yorigin, xyscale, xytolerance
            body += struct.pack("<4d", -180.0, -90.0, 180.0, 90.0)  # bbox
            # descriptor tail: the spec documents this region as grid
            # sizes with an incompletely-understood framing; write one
            # zero grid count (best-effort, reader-enforced)
            body += bytes([0]) + struct.pack("<I", 0)
        else:
            raise ValueError(f"unsupported FGDB field type {f.ftype}")
    return struct.pack("<I", len(body)) + bytes(body)


def _encode_row(fields: list[_Field], row: tuple) -> bytes:
    nullable = [f for f in fields if f.nullable]
    bitmap = bytearray(math.ceil(len(nullable) / 8) or 0)
    vals = bytearray()
    ni = 0
    for f, v in zip(fields, row):
        if f.ftype == FT_OBJECTID:
            continue  # implied by row position, never stored
        if v is None:
            bitmap[ni // 8] |= 1 << (ni % 8)
            ni += 1
            continue
        ni += 1
        if f.ftype == FT_INT32:
            iv = int(v)
            if not -(2**31) <= iv < 2**31:
                raise ValueError(f"{f.name}={iv} exceeds FGDB int32")
            vals += struct.pack("<i", iv)
        elif f.ftype == FT_FLOAT64:
            vals += struct.pack("<d", float(v))
        elif f.ftype == FT_STRING:
            raw = str(v).encode("utf-8")
            vals += _varuint(len(raw)) + raw
        elif f.ftype == FT_GEOMETRY:
            x, y = v  # (lon, lat) tuple
            blob = (
                _varuint(SHAPE_POINT)
                + _varuint(round((x - XY_ORIGIN) * XY_SCALE) + 1)
                + _varuint(round((y - XY_ORIGIN) * XY_SCALE) + 1)
            )
            vals += _varuint(len(blob)) + blob
        else:
            raise ValueError(f"unsupported FGDB field type {f.ftype}")
    body = bytes(bitmap) + bytes(vals)
    return struct.pack("<I", len(body)) + body


def _infer_fields(names: list[str], dtypes: dict[str, str]) -> list[_Field]:
    fields = [_Field("OBJECTID", FT_OBJECTID)]
    for c in names:
        st = dtypes[c]
        if c == "geometry":
            fields.append(_Field(c, FT_GEOMETRY))
        elif st in ("bigint", "int"):
            fields.append(_Field(c, FT_INT32))
        elif st in ("double", "float"):
            fields.append(_Field(c, FT_FLOAT64))
        elif st == "string":
            fields.append(_Field(c, FT_STRING))
        else:
            raise ValueError(
                f"column {c!r}: spark type {st} has no FGDB-table mapping "
                "(supported: int/bigint, double, string, point geometry)"
            )
    return fields


# ---------------------------------------------------------------------------
# single-table write / read
# ---------------------------------------------------------------------------

def write_fgdb_table(base: str, rows, fields: list[_Field]) -> int:
    """Write ``base``.gdbtable + ``base``.gdbtablx for ``rows`` (any
    ITERABLE of tuples aligned with ``fields``; the OBJECTID slot must
    be present but its value is ignored — objectids are implied 1..n).
    Returns row count.

    Streaming write: rows are encoded and flushed one at a time behind
    a placeholder header that is patched once the count/size are known,
    so the encoded rows are never held in driver memory next to the
    input rows. Residual driver memory is the 8-byte-per-row offset
    list the index file needs anyway."""
    geom_type = GEOM_POINT if any(
        f.ftype == FT_GEOMETRY for f in fields
    ) else GEOM_NONE
    desc = _descriptor(fields, geom_type)
    offsets: list[int] = []
    max_row = 0
    with open(base + ".gdbtable", "wb") as fh:
        fh.write(bytes(40))  # header placeholder, patched below
        fh.write(desc)
        pos = 40 + len(desc)
        for r in rows:
            e = _encode_row(fields, r)
            offsets.append(pos)
            pos += len(e)
            if len(e) - 4 > max_row:
                max_row = len(e) - 4
            fh.write(e)
        file_size = pos
        fh.seek(0)
        fh.write(
            struct.pack("<6I", MAGIC, len(offsets), max_row, _HDR_UNKNOWN_12, 0, 0)
            + struct.pack("<qq", file_size, 40)
        )
    n_rows = len(offsets)
    # ---- .gdbtablx: 1024-entry blocks of 5-byte offsets ----
    n_blocks = math.ceil(n_rows / 1024) if n_rows else 1
    with open(base + ".gdbtablx", "wb") as fh:
        fh.write(struct.pack("<4I", MAGIC, n_blocks, n_rows, 5))
        for i in range(n_blocks * 1024):
            off = offsets[i] if i < n_rows else 0
            if off >= 1 << 40:
                raise ValueError("table exceeds 5-byte offset space")
            fh.write(struct.pack("<Q", off)[:5])
        fh.write(bytes(16))  # trailer (best-effort zeros)
    return n_rows


def read_fgdb_table(base: str) -> tuple[list[str], list[tuple]]:
    """Strict reader: returns (column names, rows). Raises ValueError on
    any violated structural invariant — this is the audit's verifier,
    so it must never 'repair' bad bytes silently. The ValueError
    contract covers EVERY corruption shape: missing files and
    low-level decode failures (struct/index/unicode errors from
    mangled bytes) are normalized to ValueError so a consumer that
    follows the docstring cannot misclassify detected corruption as a
    crash (review r12)."""
    try:
        return _read_fgdb_table(base)
    except ValueError:
        raise
    except FileNotFoundError as exc:
        raise ValueError(f"missing FGDB table file: {exc.filename}") from exc
    except (struct.error, IndexError, UnicodeDecodeError) as exc:
        raise ValueError(f"corrupt FGDB table {base!r}: {exc}") from exc


def _read_fgdb_table(base: str) -> tuple[list[str], list[tuple]]:
    with open(base + ".gdbtable", "rb") as fh:
        buf = fh.read()
    if len(buf) < 40:
        raise ValueError("gdbtable shorter than header")
    magic, n_rows, _max_row, _u12, _z1, _z2 = struct.unpack_from("<6I", buf, 0)
    file_size, desc_off = struct.unpack_from("<qq", buf, 24)
    if magic != MAGIC:
        raise ValueError(f"bad gdbtable magic {magic}")
    if file_size != len(buf):
        raise ValueError(f"header file_size {file_size} != actual {len(buf)}")
    pos = int(desc_off)
    (desc_size,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    desc_end = pos + desc_size
    (version,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    if version != VERSION_V10:
        raise ValueError(f"unsupported gdbtable version {version}")
    (layer_flags,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    (n_fields,) = struct.unpack_from("<H", buf, pos)
    pos += 2
    fields: list[_Field] = []
    for _ in range(n_fields):
        nlen = buf[pos]
        pos += 1
        name = buf[pos : pos + 2 * nlen].decode("utf-16-le")
        pos += 2 * nlen
        alen = buf[pos]
        pos += 1 + 2 * alen
        ftype = buf[pos]
        pos += 1
        if ftype == FT_OBJECTID:
            pos += 2
        elif ftype in (FT_INT32, FT_FLOAT64):
            pos += 2
        elif ftype == FT_STRING:
            pos += 5
        elif ftype == FT_GEOMETRY:
            pos += 2
            (wchars,) = struct.unpack_from("<H", buf, pos)
            pos += 2 + 2 * wchars
            pos += 1  # z/m flags
            pos += 32  # xorigin yorigin xyscale xytolerance
            pos += 32  # bbox
            pos += 5  # tail: byte + uint32 grid count (ours: 0)
        else:
            raise ValueError(f"reader: unsupported field type {ftype}")
        fields.append(_Field(name, ftype))
    if pos != desc_end:
        raise ValueError(
            f"field descriptors ended at {pos}, section said {desc_end}"
        )
    if (layer_flags & 0xFF) not in (GEOM_NONE, GEOM_POINT):
        raise ValueError(f"unsupported layer geometry type {layer_flags & 0xFF}")
    # row offsets come from the INDEX file — the reader must honor it,
    # not just scan sequentially, or the audit wouldn't catch a broken
    # .gdbtablx
    with open(base + ".gdbtablx", "rb") as fh:
        xbuf = fh.read()
    xmagic, n_blocks, n_rows_x, esize = struct.unpack_from("<4I", xbuf, 0)
    if xmagic != MAGIC or esize != 5:
        raise ValueError("bad gdbtablx header")
    if n_rows_x != n_rows:
        raise ValueError(f"tablx rows {n_rows_x} != table rows {n_rows}")
    expected_len = 16 + n_blocks * 1024 * 5 + 16
    if len(xbuf) != expected_len:
        raise ValueError(f"tablx length {len(xbuf)} != expected {expected_len}")
    offsets = []
    for i in range(n_rows):
        raw = xbuf[16 + 5 * i : 16 + 5 * i + 5]
        offsets.append(int.from_bytes(raw, "little"))
    nullable = [f for f in fields if f.nullable]
    bm_len = math.ceil(len(nullable) / 8)
    out: list[tuple] = []
    for oid, off in enumerate(offsets, start=1):
        if off == 0:
            raise ValueError(f"row {oid}: zero offset in dense table")
        if off + 4 > len(buf):
            raise ValueError(f"row {oid}: offset {off} beyond table end")
        (rlen,) = struct.unpack_from("<I", buf, off)
        body = buf[off + 4 : off + 4 + rlen]
        if len(body) != rlen:
            raise ValueError(f"row {oid}: truncated body")
        bitmap, p = body[:bm_len], bm_len
        vals: list = []
        ni = 0
        for f in fields:
            if f.ftype == FT_OBJECTID:
                vals.append(oid)
                continue
            is_null = bool(bitmap[ni // 8] >> (ni % 8) & 1)
            ni += 1
            if is_null:
                vals.append(None)
                continue
            if f.ftype == FT_INT32:
                (v,) = struct.unpack_from("<i", body, p)
                p += 4
            elif f.ftype == FT_FLOAT64:
                (v,) = struct.unpack_from("<d", body, p)
                p += 8
            elif f.ftype == FT_STRING:
                slen, p = _read_varuint(body, p)
                v = body[p : p + slen].decode("utf-8")
                p += slen
            elif f.ftype == FT_GEOMETRY:
                glen, p = _read_varuint(body, p)
                gend = p + glen
                stype, p = _read_varuint(body, p)
                if stype != SHAPE_POINT:
                    raise ValueError(f"row {oid}: unsupported shape {stype}")
                xq, p = _read_varuint(body, p)
                yq, p = _read_varuint(body, p)
                if p != gend:
                    raise ValueError(f"row {oid}: geometry blob size mismatch")
                v = (
                    (xq - 1) / XY_SCALE + XY_ORIGIN,
                    (yq - 1) / XY_SCALE + XY_ORIGIN,
                )
            else:  # pragma: no cover - blocked at descriptor parse
                raise ValueError(f"row {oid}: unsupported type {f.ftype}")
            vals.append(v)
        if p != rlen:
            raise ValueError(f"row {oid}: {rlen - p} trailing bytes")
        out.append(tuple(vals))
    return [f.name for f in fields], out


# ---------------------------------------------------------------------------
# dataset level: GDB_SystemCatalog + named layers
# ---------------------------------------------------------------------------

_CATALOG_FIELDS = [
    _Field("OBJECTID", FT_OBJECTID),
    _Field("Name", FT_STRING),
    _Field("FileFormat", FT_INT32),
]

#: first user-table ID; 1 is GDB_SystemCatalog, 2-8 are the standard
#: system tables (GDB_DBTune … GDB_ItemRelationshipTypes) whose XML
#: payloads are the undocumented corner this writer does NOT fabricate
#: — their IDs stay reserved so a GDAL-written gdb and ours agree on
#: user-table numbering (docs/FGDB.md §3)
_FIRST_USER_ID = 9


def _table_base(gdb_dir: str, table_id: int) -> str:
    return os.path.join(gdb_dir, f"a{table_id:08x}")


#: catalog rows 1-8: the standard system-table names (public knowledge
#: — every real gdb carries them at exactly these ids). We write the
#: catalog ROW for each so user tables land at id 9+ like GDAL's, but
#: NOT the seven system-table FILES — their XML payloads are the
#: undocumented corner this writer refuses to fabricate (docs/FGDB.md)
_SYSTEM_TABLE_NAMES = (
    "GDB_SystemCatalog",
    "GDB_DBTune",
    "GDB_SpatialRefs",
    "GDB_Items",
    "GDB_ItemTypes",
    "GDB_ItemRelationships",
    "GDB_ItemRelationshipTypes",
    "GDB_ReplicaLog",
)


def write_fgdb(layers: dict[str, tuple[list[str], dict[str, str], list[tuple]]],
               gdb_dir: str) -> dict[str, int]:
    """Write a ``.gdb`` directory: GDB_SystemCatalog (a00000001) whose
    row POSITION is the table id (the format's name->file mapping),
    plus one table file pair per layer from id 9 up. ``layers`` maps
    name -> (column names, spark dtypes, row tuples WITHOUT the
    objectid slot). Returns rows-per-layer."""
    os.makedirs(gdb_dir, exist_ok=True)
    # refuse to write over an existing dataset: the streaming writer
    # overwrites table pairs in place, so an in-place rewrite that
    # failed mid-stream would leave the OLD catalog pointing at NEW
    # (deleted) files — a previously valid dataset corrupted by a
    # failed call. Callers replace datasets by removing the directory
    # first (sink_fgdb_audit does exactly that). (review r12)
    if os.path.exists(_table_base(gdb_dir, 1) + ".gdbtable"):
        raise ValueError(
            f"{gdb_dir!r} already contains a FileGDB dataset; remove it "
            "before rewriting (in-place overwrite is not supported)"
        )
    for name in layers:
        if not name or any(ch in name for ch in "/\\.\0"):
            raise ValueError(f"invalid FGDB layer name {name!r}")
        if name.startswith("GDB_"):
            raise ValueError(f"layer name {name!r} collides with system tables")
    cat_rows: list[tuple] = [
        (None, name, 0) for name in _SYSTEM_TABLE_NAMES
    ]
    counts: dict[str, int] = {}
    written: list[str] = []
    try:
        for i, (name, (cols, dtypes, rows)) in enumerate(sorted(layers.items())):
            tid = _FIRST_USER_ID + i
            if tid != len(cat_rows) + 1:  # row position IS the table id
                raise RuntimeError(
                    f"FGDB catalog invariant broken: table id {tid} != "
                    f"catalog position {len(cat_rows) + 1}"
                )
            fields = _infer_fields(cols, dtypes)
            padded = ((None, *r) for r in rows)  # objectid slot (ignored)
            base = _table_base(gdb_dir, tid)
            written.append(base)
            counts[name] = write_fgdb_table(base, padded, fields)
            cat_rows.append((None, name, 0))
        # the catalog pair is registered BEFORE its write so a failure
        # mid-catalog (ENOSPC) cleans it up too — a half-written
        # catalog is the one partial file that could make the dataset
        # read as corrupt rather than absent (review r12)
        written.append(_table_base(gdb_dir, 1))
        write_fgdb_table(_table_base(gdb_dir, 1), cat_rows, _CATALOG_FIELDS)
    except Exception:
        # the writer streams rows, so a mid-stream failure (bad value,
        # non-point geometry surfacing from a lazy iterator) leaves a
        # partial table on disk — remove every pair this call created
        # (the catalog is written LAST, so no partial dataset can ever
        # carry one) and re-raise: no-partial-layer, same contract as
        # the gpkg sink's transaction rollback
        for base in written:
            for ext in (".gdbtable", ".gdbtablx"):
                try:
                    os.unlink(base + ext)
                except OSError:
                    pass
        raise
    return counts


def list_fgdb_layers(gdb_dir: str) -> list[str]:
    """Layer names from the system catalog (excluding system tables)."""
    _, rows = read_fgdb_table(_table_base(gdb_dir, 1))
    return sorted(
        name for _oid, name, _ff in rows
        if name is not None and not name.startswith("GDB_")
    )


def read_fgdb_layer(gdb_dir: str, layer: str) -> tuple[list[str], list[tuple]]:
    """Resolve ``layer`` through the catalog, then read its table. The
    catalog row's OBJECTID *is* the table id (that's the format's
    name->file mapping)."""
    _, rows = read_fgdb_table(_table_base(gdb_dir, 1))
    for oid, name, _ff in rows:
        if name == layer:
            return read_fgdb_table(_table_base(gdb_dir, oid))
    raise KeyError(f"layer {layer!r} not in GDB_SystemCatalog")


def write_fgdb_layers(layers, gdb_dir: str) -> dict[str, int]:
    """Spark-facing multi-layer export: apply the reference's 64-char
    field-name truncation contract (fgdb_field_names — reference
    export.py:393-407), collect each frame (driver-side by design,
    SURVEY §7.3 country-sized exports), unwrap WKB point geometries,
    and write one ``.gdb`` directory. ``layers`` maps name -> DataFrame
    with an optional WKB ``geometry`` column (points only — the scoped
    subset; lines/polygons stay on the GDAL-gated write_filegdb path)."""
    from overturelink_data_pipeline_spark.geo import wkb as W
    from overturelink_data_pipeline_spark.sinks.geoparquet import fgdb_field_names

    def unwrap(name: str, df, cols: list[str]):
        """Row generator over the collected layer: the rows are
        collected to the driver in one job, and the table writer
        flushes them row by row as it consumes the generator."""
        for r in df.collect():
            vals: list = []
            for c in cols:
                v = r[c]
                if c == "geometry" and v is not None:
                    g = W.loads(bytes(v))
                    if g[0] != "Point":
                        raise ValueError(
                            f"layer {name!r}: {g[0]} geometry — the pure-"
                            "Python FGDB writer is scoped to points; use "
                            "the GDAL-gated write_filegdb for other types"
                        )
                    v = tuple(g[1])
                vals.append(v)
            yield tuple(vals)

    payload: dict[str, tuple] = {}
    for name, df in layers.items():
        for old, new in fgdb_field_names(df.columns).items():
            df = df.withColumnRenamed(old, new)
        cols = list(df.columns)
        payload[name] = (cols, dict(df.dtypes), unwrap(name, df, cols))
    return write_fgdb(payload, gdb_dir)

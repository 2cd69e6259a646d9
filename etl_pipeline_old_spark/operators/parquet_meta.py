"""Parquet footer metadata — own pure-stdlib Thrift Compact Protocol
reader, written from the public parquet-format specification
(github.com/apache/parquet-format: Thrift definitions in
parquet.thrift, compact-protocol wire rules in the Apache Thrift
spec).

Why this exists: at 100 TB the QUERY PLANNER's unit of work is the
footer, not the file.  A parquet footer is a few KB of Thrift at the
tail of a multi-GB file and carries everything pruning needs —
row-group boundaries, per-column min/max/null-count statistics, codecs,
encodings, offsets.  Spark's own scan uses these internally but never
EXPOSES them relationally; a lakehouse operator that can read footers
as a DataFrame gets metadata-only audits (row counts without scans),
layout inspection (row-group sizing, codec drift between producers),
and footer-driven file pruning where the planner touches kilobytes to
skip terabytes.  The wikidump/CDX families (queries/
compressed_shards.py, queries/web_cdx.py) proved the index-driven
range-read shape; this module gives the same shape to the lake's OWN
native format, with no sidecar needed — parquet files carry their index
in-band.

Implemented from the spec:

- **Tail framing**: ``...footer_bytes | footer_len(4, LE) | "PAR1"``.
  ``read_footer_tail`` range-reads the last 8 bytes, then exactly
  ``footer_len`` more — never the data pages (the 100 TB posture).
- **Thrift Compact Protocol** (thrift spec, compact encoding): ULEB128
  varints, zigzag i16/i32/i64, short-form struct field headers
  ``(delta<<4)|type`` with long-form zigzag field ids on delta 0,
  list headers ``(size<<4)|elem_type`` with varint overflow size,
  BOOL_TRUE/BOOL_FALSE carried in the type nibble, nested
  struct/list/map skip for fields this reader does not model (forward
  compatibility — footers written by newer writers parse).
- **parquet.thrift structs**: FileMetaData (version/schema/num_rows/
  row_groups/created_by), SchemaElement (physical type, converted
  type, LogicalType union incl. TIMESTAMP unit and DATE), RowGroup,
  ColumnChunk, ColumnMetaData (codec, encodings, num_values,
  compressed/uncompressed sizes, page offsets), Statistics with the
  post-PARQUET-1025 ``min_value``/``max_value`` fields preferred over
  the deprecated sign-ambiguous ``min``/``max``.
- **Statistics decode** per physical + logical type: INT32/INT64
  little-endian, BYTE_ARRAY UTF-8, DOUBLE/FLOAT IEEE LE, BOOLEAN,
  INT64 TIMESTAMP(MILLIS/MICROS/NANOS) and INT32 DATE rendered as ISO
  strings so stats join against SQL-side expectations.

Cross-validated against INDEPENDENT implementations on real files:
the driver testdata parquet (written by parquet-cpp-arrow) is parsed
by this codec and asserted field-for-field against DuckDB's
``parquet_metadata()`` in tests/test_parquet_meta.py, and the staged
pruning fixtures are written by pyarrow with controlled row-group
sizes — three independent parquet producers, zero shared code.

Damage (bad magic, footer length beyond file, truncated varint,
unterminated struct, stats bytes shorter than the physical type)
raises ValueError — one file costs one record, never the job.
"""

from __future__ import annotations

import io
import os
import struct

from .bitio import read_uvarint, zigzag_decode

MAGIC = b"PAR1"

# Thrift compact wire types (Thrift compact protocol spec).
_CT_STOP = 0
_CT_BOOL_TRUE = 1
_CT_BOOL_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_SET = 10
_CT_MAP = 11
_CT_STRUCT = 12

# parquet.thrift enums (public parquet-format repo).
PHYSICAL_TYPES = {
    0: "BOOLEAN",
    1: "INT32",
    2: "INT64",
    3: "INT96",
    4: "FLOAT",
    5: "DOUBLE",
    6: "BYTE_ARRAY",
    7: "FIXED_LEN_BYTE_ARRAY",
}
CODECS = {
    0: "UNCOMPRESSED",
    1: "SNAPPY",
    2: "GZIP",
    3: "LZO",
    4: "BROTLI",
    5: "LZ4",
    6: "ZSTD",
    7: "LZ4_RAW",
}
ENCODINGS = {
    0: "PLAIN",
    2: "PLAIN_DICTIONARY",
    3: "RLE",
    4: "BIT_PACKED",
    5: "DELTA_BINARY_PACKED",
    6: "DELTA_LENGTH_BYTE_ARRAY",
    7: "DELTA_BYTE_ARRAY",
    8: "RLE_DICTIONARY",
    9: "BYTE_STREAM_SPLIT",
}
CONVERTED_UTF8 = 0
CONVERTED_DATE = 6
CONVERTED_TIMESTAMP_MILLIS = 9
CONVERTED_TIMESTAMP_MICROS = 10


class _Reader:
    """Cursor over footer bytes with compact-protocol primitives."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def u8(self) -> int:
        if self.pos >= len(self.buf):
            raise ValueError("parquet footer: truncated thrift (EOF mid-struct)")
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        v, self.pos = read_uvarint(self.buf, self.pos)
        return v

    def zigzag(self) -> int:
        return zigzag_decode(self.varint())

    def raw(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError("parquet footer: truncated thrift (binary runs past end)")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out


def _read_value(r: _Reader, wtype: int):
    """Decode one compact-protocol value of wire type ``wtype``.

    Structs come back as ``{field_id: value}`` dicts and lists as Python
    lists — a generic tree; the typed layer below names the fields.
    """
    if wtype in (_CT_BOOL_TRUE, _CT_BOOL_FALSE):
        return wtype == _CT_BOOL_TRUE
    if wtype == _CT_BYTE:
        b = r.u8()
        return b - 256 if b >= 128 else b
    if wtype in (_CT_I16, _CT_I32, _CT_I64):
        return r.zigzag()
    if wtype == _CT_DOUBLE:
        return struct.unpack("<d", r.raw(8))[0]
    if wtype == _CT_BINARY:
        return r.raw(r.varint())
    if wtype in (_CT_LIST, _CT_SET):
        head = r.u8()
        size = head >> 4
        etype = head & 0x0F
        if size == 15:
            size = r.varint()
        if size > len(r.buf):
            raise ValueError("parquet footer: list size exceeds footer length")
        return [_read_value(r, etype) for _ in range(size)]
    if wtype == _CT_MAP:
        size = r.varint()
        if size == 0:
            return {}
        kv = r.u8()
        ktype, vtype = kv >> 4, kv & 0x0F
        return {
            _read_value(r, ktype): _read_value(r, vtype) for _ in range(size)
        }
    if wtype == _CT_STRUCT:
        return _read_struct(r)
    raise ValueError(f"parquet footer: unknown thrift compact type {wtype}")


def _read_struct(r: _Reader) -> dict:
    out: dict = {}
    fid = 0
    while True:
        head = r.u8()
        if head == _CT_STOP:
            return out
        delta = head >> 4
        wtype = head & 0x0F
        if delta == 0:
            fid = r.zigzag()
        else:
            fid += delta
        out[fid] = _read_value(r, wtype)
    raise AssertionError("unreachable")


def _utf8(b, what: str) -> str:
    if not isinstance(b, (bytes, bytearray)):
        raise ValueError(f"parquet footer: {what} is not a thrift binary")
    return bytes(b).decode("utf-8", errors="replace")


def _logical_kind(logical: dict | None) -> str | None:
    """Map a LogicalType union struct to a short tag used by stats decode."""
    if not isinstance(logical, dict) or not logical:
        return None
    # LogicalType union field ids per parquet.thrift.
    if 1 in logical:
        return "STRING"
    if 5 in logical:
        return "DECIMAL"
    if 6 in logical:
        return "DATE"
    if 8 in logical:
        ts = logical[8]
        unit = ts.get(2, {}) if isinstance(ts, dict) else {}
        if isinstance(unit, dict):
            if 1 in unit:
                return "TIMESTAMP_MILLIS"
            if 3 in unit:
                return "TIMESTAMP_NANOS"
        return "TIMESTAMP_MICROS"
    if 5 in logical:
        return "DECIMAL"
    if 10 in logical:
        return "INTEGER"
    return None


def parse_file_meta(footer: bytes) -> dict:
    """Parse FileMetaData thrift into a plain dict tree.

    Returns ``{version, num_rows, created_by, columns: [SchemaElement...],
    row_groups: [...]}`` with per-column-chunk stats decoded to
    display strings (see module docstring for the type mapping).
    """
    r = _Reader(footer)
    fm = _read_struct(r)
    schema = fm.get(2) or []
    if not isinstance(schema, list) or not schema:
        raise ValueError("parquet footer: FileMetaData has no schema list")

    # Flatten the schema tree: root carries num_children; leaves carry a
    # physical type.  Testdata schemas are flat (depth 1), but nested
    # groups are walked depth-first so path_in_schema joins still work.
    elems: list[dict] = []

    def walk(idx: int, prefix: list[str], reps: list[int], is_root: bool) -> int:
        el = schema[idx]
        name = _utf8(el.get(4, b""), "schema element name")
        nchild = el.get(5, 0) or 0
        # repetition_type REQUIRED=0/OPTIONAL=1/REPEATED=2 — required
        # leaves (e.g. parquet-mr writing a Spark non-nullable concat_ws
        # column) carry NO definition levels in their data pages, and
        # REPEATED ancestors (LIST shapes) add repetition levels — the
        # page reader must know both or it misparses the value section
        rep_code = el.get(3, 1)
        if nchild:
            child_prefix = prefix if is_root else prefix + [name]
            child_reps = reps if is_root else reps + [rep_code]
            idx += 1
            for _ in range(nchild):
                idx = walk(idx, child_prefix, child_reps, False)
            return idx
        levels = reps + [rep_code]
        elems.append(
            {
                "path": ".".join(prefix + [name]),
                "physical": PHYSICAL_TYPES.get(el.get(1), f"T{el.get(1)}"),
                "optional": rep_code != 0,
                "type_length": el.get(2),
                "scale": el.get(7),
                "precision": el.get(8),
                # the full repetition-code path root-child..leaf: what
                # the rep/def decoding in parquet_data keys off
                "levels": levels,
                "max_def": sum(1 for c in levels if c != 0),
                "max_rep": sum(1 for c in levels if c == 2),
                "converted": el.get(6),
                "logical": _logical_kind(el.get(10)),
            }
        )
        return idx + 1

    nxt = walk(0, [], [], True)
    while nxt < len(schema):  # tolerate forests (never seen in practice)
        nxt = walk(nxt, [], [], False)

    by_path = {e["path"]: e for e in elems}

    groups = []
    for rg in fm.get(4) or []:
        cols = []
        for cc in rg.get(1) or []:
            md = cc.get(3)
            if not isinstance(md, dict):
                raise ValueError("parquet footer: ColumnChunk without ColumnMetaData")
            path = ".".join(_utf8(p, "path_in_schema") for p in md.get(3) or [])
            elem = by_path.get(path, {})
            stats = md.get(12) if isinstance(md.get(12), dict) else {}
            cols.append(
                {
                    "path": path,
                    "physical": PHYSICAL_TYPES.get(md.get(1), f"T{md.get(1)}"),
                    "codec": CODECS.get(md.get(4), f"C{md.get(4)}"),
                    "encodings": sorted(
                        ENCODINGS.get(e, f"E{e}") for e in md.get(2) or []
                    ),
                    "num_values": md.get(5, 0),
                    "total_uncompressed_size": md.get(6, 0),
                    "total_compressed_size": md.get(7, 0),
                    "data_page_offset": md.get(9),
                    "dictionary_page_offset": md.get(11),
                    "null_count": stats.get(3),
                    "min": _decode_stat(stats.get(6, stats.get(2)), elem),
                    "max": _decode_stat(stats.get(5, stats.get(1)), elem),
                }
            )
        groups.append(
            {
                "num_rows": rg.get(3, 0),
                "total_byte_size": rg.get(2, 0),
                "columns": cols,
            }
        )

    return {
        "version": fm.get(1),
        "num_rows": fm.get(3, 0),
        "created_by": _utf8(fm.get(6, b""), "created_by") if fm.get(6) else None,
        "columns": elems,
        "row_groups": groups,
    }


_EPOCH_DAY = 719468  # days from 0000-03-01 to 1970-01-01 (civil-days algo)


def _civil_from_days(z: int) -> tuple[int, int, int]:
    """Proleptic-Gregorian date from days-since-epoch (public civil_days
    algorithm, the same one used by operators/workdays.py)."""
    z += _EPOCH_DAY
    era = (z if z >= 0 else z - 146096) // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    y = yoe + era * 400
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return (y + (1 if m <= 2 else 0), m, d)


def _iso_from_epoch(micros: int) -> str:
    seconds, frac = divmod(micros, 1_000_000)
    days, rem = divmod(seconds, 86400)
    y, mo, d = _civil_from_days(days)
    h, rem = divmod(rem, 3600)
    mi, s = divmod(rem, 60)
    out = f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"
    # fraction printed with trailing zeros trimmed (the canonical display
    # independent readers use for TIMESTAMP-to-string)
    return f"{out}.{f'{frac:06d}'.rstrip('0')}" if frac else out


def _decode_stat(raw, elem: dict) -> str | None:
    """Render a Statistics min/max binary as a canonical display string."""
    if raw is None:
        return None
    if not isinstance(raw, (bytes, bytearray)):
        raise ValueError("parquet footer: statistics value is not a thrift binary")
    raw = bytes(raw)
    phys = elem.get("physical")
    logical = elem.get("logical")
    converted = elem.get("converted")
    if phys == "BYTE_ARRAY":
        return raw.decode("utf-8", errors="replace")
    if phys == "INT64":
        if len(raw) < 8:
            raise ValueError("parquet footer: INT64 stat shorter than 8 bytes")
        v = struct.unpack("<q", raw[:8])[0]
        if logical == "TIMESTAMP_MILLIS" or converted == CONVERTED_TIMESTAMP_MILLIS:
            return _iso_from_epoch(v * 1000)
        if logical == "TIMESTAMP_MICROS" or converted == CONVERTED_TIMESTAMP_MICROS:
            return _iso_from_epoch(v)
        if logical == "TIMESTAMP_NANOS":
            return _iso_from_epoch(v // 1000)
        return str(v)
    if phys == "INT32":
        if len(raw) < 4:
            raise ValueError("parquet footer: INT32 stat shorter than 4 bytes")
        v = struct.unpack("<i", raw[:4])[0]
        if logical == "DATE" or converted == CONVERTED_DATE:
            y, mo, d = _civil_from_days(v)
            return f"{y:04d}-{mo:02d}-{d:02d}"
        return str(v)
    if phys == "DOUBLE":
        if len(raw) < 8:
            raise ValueError("parquet footer: DOUBLE stat shorter than 8 bytes")
        return repr(struct.unpack("<d", raw[:8])[0])
    if phys == "FLOAT":
        if len(raw) < 4:
            raise ValueError("parquet footer: FLOAT stat shorter than 4 bytes")
        v = struct.unpack("<f", raw[:4])[0]
        # Shortest decimal string that round-trips to the same float32
        # bits (what independent readers print for single precision —
        # repr() would promote to double and add spurious digits).
        for prec in range(1, 10):
            s = f"{v:.{prec}g}"
            if struct.pack("<f", float(s)) == raw[:4]:
                return s
        return f"{v:.9g}"
    if phys == "BOOLEAN":
        return "true" if raw[:1] == b"\x01" else "false"
    return raw.hex()


def read_footer_tail(path: str) -> bytes:
    """Range-read ONLY the footer of a parquet file (tail framing).

    Reads 8 bytes from the end for ``footer_len | "PAR1"``, then exactly
    ``footer_len`` bytes before them — at 100 TB this touches a few KB of
    a multi-GB object, the planner's whole point.  Raises ValueError on
    torn tails so one bad file costs one quarantine record.
    """
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        return read_footer_stream(fh, size)


def read_footer_stream(fh: io.IOBase, size: int) -> bytes:
    """Footer bytes from any seekable byte stream of known total size."""
    if size < 12:
        raise ValueError("parquet tail: file shorter than minimal parquet (12 bytes)")
    fh.seek(size - 8)
    tail = fh.read(8)
    if len(tail) != 8 or tail[4:] != MAGIC:
        raise ValueError("parquet tail: missing PAR1 magic at end of file")
    footer_len = struct.unpack("<I", tail[:4])[0]
    if footer_len <= 0 or footer_len + 8 > size:
        raise ValueError("parquet tail: footer length runs past start of file")
    fh.seek(size - 8 - footer_len)
    footer = fh.read(footer_len)
    if len(footer) != footer_len:
        raise ValueError("parquet tail: short read inside footer range")
    return footer


def footer_from_bytes(payload: bytes) -> bytes:
    """Footer bytes when the whole file is already in memory (fixtures)."""
    return read_footer_stream(io.BytesIO(payload), len(payload))

"""Apache Avro Object Container Files — own pure-stdlib codec, written
from the public Avro 1.12 specification.

Why this exists: Avro is the row-oriented staple of real data lakes
(Kafka archives, Sqoop/NiFi exports, event dumps) and the PySpark pip
distribution ships WITHOUT the spark-avro data source module — a
pipeline that cannot read .avro shards drops a whole ingestion class.
The container's core Java implementation (avro-1.12.1.jar) IS on
Spark's classpath though, which gives this codec the house gold
standard: tests/test_avro.py cross-validates BOTH directions against
org.apache.avro through py4j — files we write, Java reads; files Java
writes, we read.

Implemented from the spec:

- **Object Container File** (spec §Object Container Files): ``Obj\\x01``
  magic, a file-metadata map carrying ``avro.schema`` (JSON) and
  ``avro.codec``, a 16-byte sync marker, then blocks of
  ``count, byte-size, payload, sync`` — payload raw, deflate (RAW
  zlib stream per spec), snappy (+ big-endian CRC32 suffix),
  zstandard (own RFC 8878 codec), bzip2, or xz.
- **Binary encoding**: zigzag varint int/long (the part naive readers
  get wrong — a negative long is NOT two's-complement here),
  little-endian IEEE float/double, length-prefixed bytes/string,
  records as concatenated fields in schema order, arrays/maps as
  repeated blocks terminated by a zero count (negative block counts
  carry a byte size to skip — honored on read), unions as a
  branch-index varint + value, enum as index, fixed as raw bytes.

Damage (bad magic, unknown codec, sync-marker mismatch, union index
out of range, truncated varint) raises ValueError — one shard costs
one record, never the job.  Writer sync markers derive from the schema
hash for deterministic staging (spec says random; the field is opaque).
"""

from __future__ import annotations

import hashlib
import io
import json
import struct
import zlib

from .bitio import read_uvarint, write_uvarint, zigzag_decode, zigzag_encode
from .compression import decompress

MAGIC = b"Obj\x01"
# avro.codec names (besides null and snappy's CRC framing) -> compression codecs
_CODECS = {"deflate": "deflate", "zstandard": "zstd", "bzip2": "bz2", "xz": "xz"}


# --------------------------------------------------------------- varints
def write_long(out: bytearray, n: int) -> None:
    if not -(1 << 63) <= n < 1 << 63:
        raise ValueError(f"avro: {n} does not fit a long")
    out += write_uvarint(zigzag_encode(n))


def read_long(buf: io.BytesIO) -> int:
    # getvalue() hands back the BytesIO's own bytes object, no copy
    z, pos = read_uvarint(buf.getvalue(), buf.tell())
    buf.seek(pos)
    return zigzag_decode(z)


# ------------------------------------------------------------- datum I/O
def _encode(out: bytearray, schema, value) -> None:
    if isinstance(schema, list):  # union: branch index + value
        for idx, branch in enumerate(schema):
            if _matches(branch, value):
                write_long(out, idx)
                _encode(out, branch, value)
                return
        raise ValueError(f"avro: value {value!r} matches no union branch")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                _encode(out, f["type"], value[f["name"]])
            return
        if t == "array":
            if value:
                write_long(out, len(value))
                for item in value:
                    _encode(out, schema["items"], item)
            write_long(out, 0)
            return
        if t == "map":
            if value:
                write_long(out, len(value))
                for k_, v_ in value.items():
                    _encode(out, "string", k_)
                    _encode(out, schema["values"], v_)
            write_long(out, 0)
            return
        if t == "enum":
            write_long(out, schema["symbols"].index(value))
            return
        if t == "fixed":
            if len(value) != schema["size"]:
                raise ValueError("avro: fixed size mismatch")
            out += value
            return
        return _encode(out, t, value)  # {"type": "long"} primitive form
    if schema == "null":
        return
    if schema == "boolean":
        out.append(1 if value else 0)
        return
    if schema in ("int", "long"):
        write_long(out, int(value))
        return
    if schema == "float":
        out += struct.pack("<f", value)
        return
    if schema == "double":
        out += struct.pack("<d", value)
        return
    if schema in ("bytes", "string"):
        raw = value.encode("utf-8") if schema == "string" else value
        write_long(out, len(raw))
        out += raw
        return
    raise ValueError(f"avro: unsupported schema {schema!r}")


def _matches(branch, value) -> bool:
    t = branch["type"] if isinstance(branch, dict) else branch
    if t == "null":
        return value is None
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t in ("bytes", "fixed"):
        return isinstance(value, bytes)
    if t in ("string", "enum"):
        return isinstance(value, str)
    if t == "array":
        return isinstance(value, list)
    if t in ("map", "record"):
        return isinstance(value, dict)
    return False


def _decode(buf: io.BytesIO, schema):
    if isinstance(schema, list):
        idx = read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"avro: union branch {idx} out of range")
        return _decode(buf, schema[idx])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _decode(buf, f["type"])
                for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = read_long(buf)
                if n == 0:
                    return out
                if n < 0:  # negative count: a byte size precedes items
                    n = -n
                    read_long(buf)
                for _ in range(n):
                    out.append(_decode(buf, schema["items"]))
        if t == "map":
            out = {}
            while True:
                n = read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    read_long(buf)
                for _ in range(n):
                    k_ = _decode(buf, "string")
                    out[k_] = _decode(buf, schema["values"])
        if t == "enum":
            idx = read_long(buf)
            if not 0 <= idx < len(schema["symbols"]):
                raise ValueError("avro: enum index out of range")
            return schema["symbols"][idx]
        if t == "fixed":
            raw = buf.read(schema["size"])
            if len(raw) != schema["size"]:
                raise ValueError("avro: truncated fixed")
            return raw
        return _decode(buf, t)
    if schema == "null":
        return None
    if schema == "boolean":
        raw = buf.read(1)
        if not raw:
            raise ValueError("avro: truncated boolean")
        return raw[0] != 0
    if schema in ("int", "long"):
        return read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema in ("bytes", "string"):
        n = read_long(buf)
        raw = buf.read(n)
        if len(raw) != n:
            raise ValueError("avro: truncated bytes/string")
        return raw.decode("utf-8") if schema == "string" else raw
    raise ValueError(f"avro: unsupported schema {schema!r}")


# ----------------------------------------------------- schema resolution
# Avro spec §Schema Resolution: reading data written under schema W with
# reader schema R — the half of the spec every long-lived lake hits on
# day two (new fields with defaults, renamed fields via aliases, widened
# numeric types).  Implemented rules: primitive promotions (int→long/
# float/double, long→float/double, float→double, string↔bytes), record
# fields matched by name then by reader-field aliases with writer-only
# fields skipped and reader-only fields filled from their defaults,
# record/enum/fixed NAME matching through reader aliases (unqualified
# names), enum symbols re-matched by name with the reader's enum default
# honored, arrays/maps resolved element-wise, and unions resolved by
# first-matching reader branch in both directions.  Cross-validated
# against org.apache.avro's resolving GenericDatumReader(writer, reader)
# in tests/test_avro.py.

_PROMOTIONS = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}
_PRIMITIVES = (
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
)


def _type_name(s) -> str:
    if isinstance(s, list):
        return "union"
    if isinstance(s, dict):
        t = s["type"]
        return t if t in ("record", "enum", "array", "map", "fixed") \
            else _type_name(t)
    return s


def _simple_name(n: str) -> str:
    return n.rsplit(".", 1)[-1]


def _names_match(w: dict, r: dict) -> bool:
    """Named-type match: same unqualified name, or the writer's name
    appears in the reader's aliases."""
    wn = _simple_name(w.get("name", ""))
    rn = _simple_name(r.get("name", ""))
    aliases = {_simple_name(a) for a in r.get("aliases", [])}
    return wn == rn or wn in aliases


def _can_resolve(w, r) -> bool:
    """Structural does-W-resolve-to-R check, used to pick the first
    matching reader-union branch."""
    if isinstance(w, list):
        return any(_can_resolve(b, r) for b in w)
    if isinstance(r, list):
        return any(_can_resolve(w, b) for b in r)
    wt, rt = _type_name(w), _type_name(r)
    if wt in _PRIMITIVES:
        return wt == rt or rt in _PROMOTIONS.get(wt, ())
    if wt != rt:
        return False
    if wt in ("record", "enum", "fixed"):
        return _names_match(w, r)
    if wt == "array":
        return _can_resolve(w["items"], r["items"])
    return _can_resolve(w["values"], r["values"])  # map


def default_value(schema, d):
    """Materialize a reader field's JSON ``default`` per the spec's
    default-encoding table (bytes/fixed defaults are \\u0000-\\u00FF
    strings; a union's default is of its FIRST branch's type)."""
    if isinstance(schema, list):
        return default_value(schema[0], d)
    t = _type_name(schema)
    if t == "null":
        return None
    if t == "boolean":
        return bool(d)
    if t in ("int", "long"):
        return int(d)
    if t in ("float", "double"):
        return float(d)
    if t in ("bytes", "fixed"):
        return d.encode("latin-1")
    if t in ("string", "enum"):
        return d
    if t == "array":
        return [default_value(schema["items"], x) for x in d]
    if t == "map":
        return {k: default_value(schema["values"], v) for k, v in d.items()}
    if t == "record":
        out = {}
        for f in schema["fields"]:
            if f["name"] in d:
                out[f["name"]] = default_value(f["type"], d[f["name"]])
            elif "default" in f:
                out[f["name"]] = default_value(f["type"], f["default"])
            else:
                raise ValueError(
                    f"avro: record default missing field {f['name']}"
                )
        return out
    raise ValueError(f"avro: no default rule for schema {schema!r}")


def _promote(value, wt: str, rt: str):
    if rt in ("long",):
        return int(value)
    if rt in ("float", "double"):
        return float(value)
    if wt == "string" and rt == "bytes":
        return value.encode("utf-8")
    if wt == "bytes" and rt == "string":
        return value.decode("utf-8")
    return value


def _decode_resolved(buf: io.BytesIO, w, r):
    if isinstance(w, list):
        idx = read_long(buf)
        if not 0 <= idx < len(w):
            raise ValueError(f"avro: union branch {idx} out of range")
        branch = w[idx]
        if isinstance(r, list):
            return _decode_resolved(buf, branch, r)
        if not _can_resolve(branch, r):
            raise ValueError(
                f"avro: writer union branch {_type_name(branch)!r} does "
                f"not resolve to reader {_type_name(r)!r}"
            )
        return _decode_resolved(buf, branch, r)
    if isinstance(r, list):
        for branch in r:
            if _can_resolve(w, branch):
                return _decode_resolved(buf, w, branch)
        raise ValueError(
            f"avro: writer {_type_name(w)!r} matches no reader union branch"
        )
    wt, rt = _type_name(w), _type_name(r)
    if wt in _PRIMITIVES:
        if wt == rt:
            return _decode(buf, wt)
        if rt in _PROMOTIONS.get(wt, ()):
            return _promote(_decode(buf, wt), wt, rt)
        raise ValueError(
            f"avro: writer {wt!r} does not resolve to reader {rt!r}"
        )
    if wt != rt:
        raise ValueError(
            f"avro: writer {wt!r} does not resolve to reader {rt!r}"
        )
    if wt == "record":
        if not _names_match(w, r):
            raise ValueError(
                f"avro: record {w.get('name')!r} does not match reader "
                f"record {r.get('name')!r} (no alias)"
            )
        by_name = {f["name"]: f for f in r["fields"]}
        by_alias = {}
        for f in r["fields"]:
            for a in f.get("aliases", []):
                by_alias[a] = f
        out = {}
        for wf in w["fields"]:
            rf = by_name.get(wf["name"]) or by_alias.get(wf["name"])
            if rf is not None and rf["name"] not in out:
                out[rf["name"]] = _decode_resolved(
                    buf, wf["type"], rf["type"]
                )
            else:
                _decode(buf, wf["type"])  # writer-only field: skip
        for rf in r["fields"]:
            if rf["name"] not in out:
                if "default" not in rf:
                    raise ValueError(
                        f"avro: reader field {rf['name']!r} absent in "
                        "writer data and carries no default"
                    )
                out[rf["name"]] = default_value(rf["type"], rf["default"])
        return out
    if wt == "enum":
        if not _names_match(w, r):
            raise ValueError("avro: enum name mismatch (no alias)")
        idx = read_long(buf)
        if not 0 <= idx < len(w["symbols"]):
            raise ValueError("avro: enum index out of range")
        sym = w["symbols"][idx]
        if sym in r["symbols"]:
            return sym
        if "default" in r:
            return r["default"]
        raise ValueError(
            f"avro: writer enum symbol {sym!r} unknown to reader and "
            "reader has no enum default"
        )
    if wt == "fixed":
        if not _names_match(w, r) or w["size"] != r["size"]:
            raise ValueError("avro: fixed name/size mismatch")
        raw = buf.read(w["size"])
        if len(raw) != w["size"]:
            raise ValueError("avro: truncated fixed")
        return raw
    if wt == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                out.append(_decode_resolved(buf, w["items"], r["items"]))
    if wt == "map":
        outm = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return outm
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                k_ = _decode(buf, "string")
                outm[k_] = _decode_resolved(buf, w["values"], r["values"])
    raise ValueError(f"avro: unsupported schema {w!r}")


# ------------------------------------------------------------- container
def write_avro(records: list, schema_json: str, codec: str = "null",
               block_records: int = 1000) -> bytes:
    """Serialize ``records`` (dicts matching the schema) into an Object
    Container File.  ``codec`` is ``null`` or ``deflate``."""
    if codec not in ("null", "snappy", *_CODECS):
        raise ValueError(f"avro: unsupported codec {codec!r}")
    schema = json.loads(schema_json)
    sync = hashlib.md5(schema_json.encode("utf-8")).digest()
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    write_long(out, len(meta))
    for k_, v_ in sorted(meta.items()):
        _encode(out, "string", k_)
        _encode(out, "bytes", v_)
    write_long(out, 0)
    out += sync
    for at in range(0, len(records), block_records):
        chunk = records[at : at + block_records]
        payload = bytearray()
        for rec in chunk:
            _encode(payload, schema, rec)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(bytes(payload)) + co.flush()
        elif codec == "snappy":
            # Avro's snappy framing: block + BIG-endian CRC32 of the
            # UNCOMPRESSED bytes (spec: Object Container Files, snappy)
            crc = zlib.crc32(bytes(payload)) & 0xFFFFFFFF
            payload = snappy_compress(bytes(payload)) + crc.to_bytes(4, "big")
        elif codec == "zstandard":
            # spec codec name "zstandard"; the own raw-block frames are
            # spec-legal zstd any consumer (incl. libzstd) decodes
            payload = zstd_compress_raw(bytes(payload))
        elif codec == "bzip2":
            import bz2 as _bz2

            payload = _bz2.compress(bytes(payload), 9)
        elif codec == "xz":
            import lzma as _lzma

            payload = _lzma.compress(bytes(payload), format=_lzma.FORMAT_XZ)
        write_long(out, len(chunk))
        write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def read_avro(blob: bytes, reader_schema_json: str | None = None):
    """Parse an Object Container File → ``(schema_json, codec, records)``
    with every block's sync marker verified.  With
    ``reader_schema_json``, records decode through full spec Schema
    Resolution against the container's writer schema (promotions,
    field/name aliases, defaults, union re-matching) and the returned
    ``schema_json`` is still the WRITER's (provenance)."""
    buf = io.BytesIO(blob)
    if buf.read(4) != MAGIC:
        raise ValueError("avro: bad container magic")
    meta = {}
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            read_long(buf)
        for _ in range(n):
            k_ = _decode(buf, "string")
            meta[k_] = _decode(buf, "bytes")
    schema_json = meta.get("avro.schema")
    if not schema_json:
        raise ValueError("avro: container carries no schema")
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "snappy", *_CODECS):
        raise NotImplementedError(
            f"avro: codec {codec!r} needs an external library — null, "
            "deflate, snappy, zstandard, bzip2 and xz decode natively"
        )
    schema = json.loads(schema_json)
    rschema = (
        json.loads(reader_schema_json)
        if reader_schema_json is not None else None
    )
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = read_long(buf)
        size = read_long(buf)
        payload = buf.read(size)
        if len(payload) != size:
            raise ValueError("avro: truncated block payload")
        if codec == "snappy":
            if len(payload) < 4:
                raise ValueError("avro: snappy block shorter than its CRC")
            raw = decompress("snappy", payload[:-4])
            if zlib.crc32(raw) & 0xFFFFFFFF != int.from_bytes(
                payload[-4:], "big"
            ):
                raise ValueError("avro: snappy block CRC mismatch")
            payload = raw
        elif codec != "null":
            payload = decompress(_CODECS[codec], payload)
        pbuf = io.BytesIO(payload)
        for _ in range(count):
            records.append(
                _decode(pbuf, schema) if rschema is None
                else _decode_resolved(pbuf, schema, rschema)
            )
        if pbuf.read(1):
            raise ValueError("avro: block payload has trailing bytes")
        if buf.read(16) != sync:
            raise ValueError("avro: sync marker mismatch (torn block?)")
    return schema_json.decode(), codec, records


# Snappy lives in operators/snappy.py since r14 (the standalone codec
# the ORC/parquet readers share); these aliases keep the Avro container's
# original surface — and the snappy-java cross-validation in
# tests/test_avro.py now pins that shared module.
from .snappy import compress as snappy_compress  # noqa: E402
from .zstd import compress_raw_frame as zstd_compress_raw  # noqa: E402
from .snappy import decompress as snappy_decompress  # noqa: E402

"""Protocol Buffers wire format — own pure-stdlib walker, written from
the public protobuf encoding spec (protobuf.dev/programming-guides/
encoding): ULEB128 varints, zigzag, the four live wire types (VARINT,
I64, LEN, I32), packed repeated scalars.

Why this exists: ORC metadata (PostScript, Footer, StripeFooter — the
orc_proto.proto messages published in the Apache ORC specification) is
protobuf on the wire, and this container ships no protobuf runtime.
The walker is schema-less — it decodes the self-describing layer
(field numbers + wire types) into ``{field: [(wire_type, value)]}``
trees and lets the caller apply meaning per the published .proto field
numbers, exactly like the Thrift Compact walker in parquet_meta.py.
Unknown fields therefore skip for free (forward compatibility), and a
field-number misreading cannot hide: operators/orc.py is
cross-validated against files written by the independent ORC C++
writer (pyarrow.orc), where a wrong field id yields garbage
stripe offsets, not a plausible parse.

GROUP wire types (3/4, deprecated pre-proto2 and absent from ORC) and
truncated payloads raise ValueError — one record's metadata costs one
record, never the job.
"""

from __future__ import annotations

import struct

from .bitio import read_uvarint, zigzag_decode

WT_VARINT = 0
WT_I64 = 1
WT_LEN = 2
WT_I32 = 5

Message = dict[int, list[tuple[int, "int | bytes"]]]


def parse_message(buf: bytes) -> Message:
    """Decode one message's wire fields: ``{field: [(wire_type, raw)]}``.

    VARINT values come back as ints, LEN as bytes, I64/I32 as their
    little-endian raw bytes (the caller knows double vs fixed64).
    """
    out: Message = {}
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = read_uvarint(buf, pos)
        field, wtype = tag >> 3, tag & 0x07
        if field == 0:
            raise ValueError("protobuf: field number 0 is reserved")
        if wtype == WT_VARINT:
            val, pos = read_uvarint(buf, pos)
        elif wtype == WT_I64:
            if pos + 8 > n:
                raise ValueError("protobuf: truncated fixed64")
            val = buf[pos : pos + 8]
            pos += 8
        elif wtype == WT_LEN:
            ln, pos = read_uvarint(buf, pos)
            if pos + ln > n:
                raise ValueError("protobuf: LEN field runs past message end")
            val = buf[pos : pos + ln]
            pos += ln
        elif wtype == WT_I32:
            if pos + 4 > n:
                raise ValueError("protobuf: truncated fixed32")
            val = buf[pos : pos + 4]
            pos += 4
        else:
            raise ValueError(f"protobuf: unsupported wire type {wtype}")
        out.setdefault(field, []).append((wtype, val))
    return out


def _one(msg: Message, field: int):
    vals = msg.get(field)
    return vals[-1] if vals else None  # last-one-wins per the spec


def get_uint(msg: Message, field: int, default: int | None = None) -> int | None:
    v = _one(msg, field)
    if v is None:
        return default
    if v[0] != WT_VARINT:
        raise ValueError(f"protobuf: field {field} is not a varint")
    return v[1]


def get_sint(msg: Message, field: int, default: int | None = None) -> int | None:
    """sint32/sint64 (zigzag varint) accessor."""
    v = get_uint(msg, field, None)
    return default if v is None else zigzag_decode(v)


def get_bytes(msg: Message, field: int, default: bytes | None = None) -> bytes | None:
    v = _one(msg, field)
    if v is None:
        return default
    if v[0] != WT_LEN:
        raise ValueError(f"protobuf: field {field} is not length-delimited")
    return v[1]


def get_str(msg: Message, field: int, default: str | None = None) -> str | None:
    b = get_bytes(msg, field, None)
    return default if b is None else b.decode("utf-8", errors="replace")


def get_double(msg: Message, field: int, default: float | None = None) -> float | None:
    v = _one(msg, field)
    if v is None:
        return default
    if v[0] != WT_I64:
        raise ValueError(f"protobuf: field {field} is not fixed64")
    return struct.unpack("<d", v[1])[0]


def get_message(msg: Message, field: int) -> Message | None:
    b = get_bytes(msg, field, None)
    return None if b is None else parse_message(b)


def get_messages(msg: Message, field: int) -> list[Message]:
    out = []
    for wtype, val in msg.get(field, ()):
        if wtype != WT_LEN:
            raise ValueError(f"protobuf: field {field} is not length-delimited")
        out.append(parse_message(val))
    return out


def get_packed_uints(msg: Message, field: int) -> list[int]:
    """Repeated uint field, accepting BOTH encodings the spec allows:
    packed (one LEN payload of varints) and expanded (repeated VARINT)."""
    out: list[int] = []
    for wtype, val in msg.get(field, ()):
        if wtype == WT_VARINT:
            out.append(val)
        elif wtype == WT_LEN:
            pos = 0
            while pos < len(val):
                v, pos = read_uvarint(val, pos)
                out.append(v)
        else:
            raise ValueError(f"protobuf: field {field} is not a repeated uint")
    return out


def get_strs(msg: Message, field: int) -> list[str]:
    out = []
    for wtype, val in msg.get(field, ()):
        if wtype != WT_LEN:
            raise ValueError(f"protobuf: field {field} is not length-delimited")
        out.append(val.decode("utf-8", errors="replace"))
    return out

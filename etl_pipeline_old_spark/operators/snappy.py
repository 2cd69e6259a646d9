"""Snappy — own pure-stdlib codec, written from the public format
description (github.com/google/snappy format_description.txt).

Why this exists: snappy is the DEFAULT block codec of the columnar
lake — parquet-cpp writes it unless told otherwise (the driver
testdata itself is snappy-compressed parquet) and ORC/Avro estates use
it everywhere — yet this container ships no snappy module.  Unlike
brotli/VP8/JBIG2 (whose specs embed large constant tables that cannot
be transcribed honestly in-container), snappy is PURE ALGORITHM: a
varint preamble plus two element kinds, no entropy coding, no tables —
so an own implementation is pinned by logic alone and cross-validated
against the independent C++ compressor through the snappy-framed
chunks pyarrow writes inside ORC and parquet files
(tests/test_snappy.py).

Format (format_description.txt):

- **Preamble**: uncompressed length, ULEB128 varint.
- **Literals** (tag ``..00``): length ``(tag>>2)+1`` for 1..60; tag
  values 60..63 instead carry that many little-endian extra bytes
  encoding ``length-1``.
- **Copies**: tag ``..01`` = 1-byte offset: length
  ``((tag>>2)&0x7)+4`` (4..11), offset ``((tag>>5)<<8)|next``;
  tag ``..10`` = 2-byte LE offset, length ``(tag>>2)+1``; tag
  ``..11`` = 4-byte LE offset, same length rule.  Offsets may be
  smaller than the length (overlapping copies generate runs) — honored
  byte-at-a-time.

``compress`` emits the all-literals form — spec-valid output (every
decoder must accept it) used for roundtrip tests and staging; real
compression ratios are the C++ encoder's job, not this module's.

Damage (zero offset, offset before start of output, element running
past the input, output over/undershooting the preamble) raises
ValueError — one chunk costs one record, never the job.
"""

from __future__ import annotations

from .bitio import read_uvarint, write_uvarint


def decompress(buf: bytes) -> bytes:
    try:
        expect, pos = read_uvarint(buf, 0, max_bytes=5)
    except ValueError as exc:
        raise ValueError(f"snappy: length preamble: {exc}") from None
    out = bytearray()
    n = len(buf)
    while pos < n:
        tag = buf[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                if pos + extra > n:
                    raise ValueError("snappy: literal length bytes truncated")
                ln = int.from_bytes(buf[pos : pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise ValueError("snappy: literal runs past end of input")
            out += buf[pos : pos + ln]
            pos += ln
            continue
        if kind == 1:
            ln = ((tag >> 2) & 0x07) + 4
            if pos >= n:
                raise ValueError("snappy: copy-1 offset truncated")
            off = ((tag >> 5) << 8) | buf[pos]
            pos += 1
        elif kind == 2:
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise ValueError("snappy: copy-2 offset truncated")
            off = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
        else:
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise ValueError("snappy: copy-4 offset truncated")
            off = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: copy offset outside produced output")
        if off >= ln:
            start = len(out) - off
            out += out[start : start + ln]
        else:
            # overlapping copy: the spec's run-generation case
            for _ in range(ln):
                out.append(out[-off])
    if len(out) != expect:
        raise ValueError(
            f"snappy: output length {len(out)} != preamble {expect}"
        )
    return bytes(out)


def compress(data: bytes) -> bytes:
    """Spec-valid all-literals encoding (no matching attempted)."""
    out = bytearray(write_uvarint(len(data)))
    pos = 0
    while pos < len(data):
        chunk = data[pos : pos + 65536]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        elif ln < 1 << 8:
            out.append(60 << 2)
            out += ln.to_bytes(1, "little")
        elif ln < 1 << 16:
            out.append(61 << 2)
            out += ln.to_bytes(2, "little")
        else:
            out.append(62 << 2)
            out += ln.to_bytes(3, "little")
        out += chunk
        pos += len(chunk)
    return bytes(out)

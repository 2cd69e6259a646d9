"""Apache ORC reader — own pure-stdlib codec, written from the public
ORC v1 specification (orc.apache.org/specification/ORCv1: file tail,
compression chunk framing, RLEv1 byte runs, RLEv2 integer encodings,
stream kinds, column encodings; message field numbers from the spec's
published orc_proto.proto).

Why this exists: ORC is the OTHER columnar lake format — Hive/Trino
warehouses and classic Hadoop estates are full of it — and neither
this container's Spark build (no orc jars exercised through pyspark
pip? it ships them, but the point below stands), DuckDB, nor stdlib
can serve as this repo's own-codec policy: like parquet_meta.py, the
value is exposing the INTERNALS relationally (stripe boundaries,
footer column statistics, encodings) for metadata-only planning and
stripe-level range reads. The protobuf layer is the schema-less
walker in protobuf_wire.py; THIS module applies the published field
numbers and decodes the actual columns.

Implemented from the spec:

- **File tail**: ``... | metadata | footer | postscript | psLen(1)``.
  PostScript (never compressed): footerLength(1), compression(2),
  compressionBlockSize(3), version(4, packed), metadataLength(5),
  writerVersion(6), magic(8000, "ORC").
- **Compression chunks**: 3-byte little-endian header, low bit =
  isOriginal, high 23 bits = chunk length; ZLIB chunks are RAW
  deflate, SNAPPY/ZSTD/LZ4 chunks decode through the own codecs in
  snappy.py / zstd.py / lz4.py (each cross-validated against the
  reference implementations in-container).  LZO raises the loud
  NotImplementedError class (nothing in-container writes it and
  fabricating a codec is against house policy).
- **Footer**: stripes(3: offset/indexLength/dataLength/footerLength/
  numberOfRows), types(4: kind/subtypes/fieldNames), numberOfRows(6),
  statistics(7: numberOfValues, Int/Double/String/Bucket/Date stats,
  hasNull), rowIndexStride(8).
- **StripeFooter**: streams(1: kind/column/length, laid out in listed
  order from the stripe offset), columnEncodings(2), timezone(3).
- **RLEv1 byte runs** (PRESENT/BOOLEAN bit streams): control < 128 →
  run of control+3 copies; >= 128 → 256-control literals; bits then
  read MSB-first.
- **RLEv2 integers**, all four sub-encodings: SHORT_REPEAT (3-bit
  byte-width, 3-bit count+3, big-endian value), DIRECT (5-bit width
  code via the closest-fixed-bits table 1..24,26,28,30,32,40,48,56,64;
  9-bit length-1; MSB-first bit packing; zigzag when signed),
  PATCHED_BASE (sign-magnitude base, unsigned packed values, patch
  list packed at closest-fixed-bits(gapWidth+patchWidth) with 255-gap
  continuation entries, patch ORed above the value width), DELTA
  (signed varint base — zigzag only for signed columns — signed-varint
  delta base, width 0 = fixed delta, else packed unsigned deltas
  applied in the delta base's direction).
- **Columns**: BOOLEAN (bit RLE), BYTE (byte RLE), SHORT/INT/LONG and
  DATE (RLEv2 signed), FLOAT/DOUBLE (IEEE LE), STRING/BINARY in both
  DIRECT_V2 (DATA bytes + LENGTH RLEv2) and DICTIONARY_V2
  (sorted dictionary + index DATA), nullability via PRESENT bit
  streams at every nesting level, TIMESTAMP (relative-to-2015 seconds
  + the trailing-zero-compressed nanos SECONDARY stream, incl. the
  C-truncation negative-nanos form pre-1970 writers emit) and DECIMAL
  (unbounded zigzag varints + scale stream), and one-level LIST
  (LENGTH stream + child-column recursion).  MAP/UNION and nested
  STRUCT raise the loud class — documented seams, not silent nulls.

Cross-validated against the INDEPENDENT Apache ORC C++ writer
(pyarrow.orc) in tests/test_orc.py: random/monotonic/skewed/repeated
integer shapes (driving all four RLEv2 sub-encodings), dictionary and
direct strings, nulls at every density, zlib and uncompressed, DATE
epoch days, and multi-stripe files — plus value-level equality against
pyarrow's own read-back of the same files.

Damage (bad magic, truncated varint/chunk/stream, stream ranges
overrunning the stripe, dictionary index out of range) raises
ValueError — one file costs one record, never the job.
"""

from __future__ import annotations

import struct

from . import protobuf_wire as pw
from .bitio import MsbReader, read_uvarint, zigzag_decode
from .compression import decompress

MAGIC = b"ORC"

COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4", 5: "ZSTD"}
# ORC's ZLIB chunks are raw deflate and its LZ4 chunks single blocks
_CODECS = {"ZLIB": "deflate", "SNAPPY": "snappy", "ZSTD": "zstd", "LZ4": "lz4_block"}

TYPE_KINDS = {
    0: "BOOLEAN",
    1: "BYTE",
    2: "SHORT",
    3: "INT",
    4: "LONG",
    5: "FLOAT",
    6: "DOUBLE",
    7: "STRING",
    8: "BINARY",
    9: "TIMESTAMP",
    10: "LIST",
    11: "MAP",
    12: "STRUCT",
    13: "UNION",
    14: "DECIMAL",
    15: "DATE",
    16: "VARCHAR",
    17: "CHAR",
}

# Stream kinds (spec).
SK_PRESENT = 0
SK_DATA = 1
SK_LENGTH = 2
SK_DICTIONARY_DATA = 3
SK_SECONDARY = 5

# Column encodings (spec).
ENC_DIRECT = 0
ENC_DICTIONARY = 1
ENC_DIRECT_V2 = 2
ENC_DICTIONARY_V2 = 3

# The closest-fixed-bits table shared by DIRECT/PATCHED_BASE/DELTA and
# the patch-list width (spec: 1..24 then 26,28,30,32,40,48,56,64).
_WIDTHS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]


def _decode_width(code: int) -> int:
    return _WIDTHS[code]


def _closest_fixed_bits(n: int) -> int:
    if n == 0:
        return 1
    for w in _WIDTHS:
        if n <= w:
            return w
    raise ValueError(f"orc: bit width {n} exceeds 64")


# ---------------------------------------------------------------- tail


def read_postscript(blob: bytes) -> dict:
    if len(blob) < 4 + len(MAGIC):
        raise ValueError("orc: file shorter than a minimal ORC tail")
    ps_len = blob[-1]
    if ps_len == 0 or 1 + ps_len > len(blob):
        raise ValueError("orc: postscript length runs past start of file")
    ps = pw.parse_message(blob[len(blob) - 1 - ps_len : len(blob) - 1])
    if pw.get_bytes(ps, 8000) != MAGIC:
        raise ValueError("orc: missing ORC magic in postscript")
    comp = pw.get_uint(ps, 2, 0)
    return {
        "footer_length": pw.get_uint(ps, 1, 0),
        "compression": COMPRESSION.get(comp, f"C{comp}"),
        "compression_block_size": pw.get_uint(ps, 3, 0),
        "version": pw.get_packed_uints(ps, 4),
        "metadata_length": pw.get_uint(ps, 5, 0),
        "writer_version": pw.get_uint(ps, 6, 0),
        "ps_length": ps_len,
    }


def _decompress(buf: bytes, compression: str) -> bytes:
    """Undo ORC's chunked compression framing over a stream/footer region."""
    if compression == "NONE":
        return buf
    codec = _CODECS.get(compression)
    if codec is None:
        raise NotImplementedError(
            f"orc: {compression} compression unsupported (no independent "
            "decoder or honest transcription path in-container; "
            "NONE/ZLIB/SNAPPY/ZSTD/LZ4 decode)"
        )
    out = bytearray()
    pos = 0
    while pos < len(buf):
        if pos + 3 > len(buf):
            raise ValueError("orc: truncated compression chunk header")
        hdr = int.from_bytes(buf[pos : pos + 3], "little")
        pos += 3
        is_original = hdr & 1
        length = hdr >> 1
        if pos + length > len(buf):
            raise ValueError("orc: compression chunk runs past region end")
        chunk = buf[pos : pos + length]
        pos += length
        out += chunk if is_original else decompress(codec, chunk)
    return bytes(out)


def _read_schema(foot: pw.Message) -> list[dict]:
    types = []
    for t in pw.get_messages(foot, 4):
        kind = pw.get_uint(t, 1, 0)
        types.append(
            {
                "kind": TYPE_KINDS.get(kind, f"T{kind}"),
                "subtypes": pw.get_packed_uints(t, 2),
                "field_names": pw.get_strs(t, 3),
                "precision": pw.get_uint(t, 5, 0),
                "scale": pw.get_uint(t, 6, 0),
            }
        )
    if not types:
        raise ValueError("orc: footer carries no types")
    return types


def _decode_col_stats(cs: pw.Message) -> dict:
    out = {
        "num_values": pw.get_uint(cs, 1, 0),
        "has_null": bool(pw.get_uint(cs, 10, 0)),
        "min": None,
        "max": None,
        "sum": None,
    }
    ints = pw.get_message(cs, 2)
    if ints is not None:
        out["min"] = pw.get_sint(ints, 1)
        out["max"] = pw.get_sint(ints, 2)
        out["sum"] = pw.get_sint(ints, 3)
    dbls = pw.get_message(cs, 3)
    if dbls is not None:
        out["min"] = pw.get_double(dbls, 1)
        out["max"] = pw.get_double(dbls, 2)
        out["sum"] = pw.get_double(dbls, 3)
    strs = pw.get_message(cs, 4)
    if strs is not None:
        out["min"] = pw.get_str(strs, 1)
        out["max"] = pw.get_str(strs, 2)
        out["sum"] = pw.get_sint(strs, 3)  # total length
    buckets = pw.get_message(cs, 5)
    if buckets is not None:
        trues = pw.get_packed_uints(buckets, 1)
        out["sum"] = trues[0] if trues else 0  # true count
    dates = pw.get_message(cs, 7)
    if dates is not None:
        out["min"] = _iso_date(pw.get_sint(dates, 1))
        out["max"] = _iso_date(pw.get_sint(dates, 2))
    return out


def read_file_tail(blob: bytes) -> dict:
    """PostScript + Footer: schema, stripes, row count, column stats —
    everything metadata-only planning needs, from the tail bytes alone."""
    ps = read_postscript(blob)
    end = len(blob) - 1 - ps["ps_length"]
    flen = ps["footer_length"]
    if flen <= 0 or flen > end:
        raise ValueError("orc: footer length runs past start of file")
    foot = pw.parse_message(_decompress(blob[end - flen : end], ps["compression"]))
    stripes = []
    for s in pw.get_messages(foot, 3):
        stripes.append(
            {
                "offset": pw.get_uint(s, 1, 0),
                "index_length": pw.get_uint(s, 2, 0),
                "data_length": pw.get_uint(s, 3, 0),
                "footer_length": pw.get_uint(s, 4, 0),
                "num_rows": pw.get_uint(s, 5, 0),
            }
        )
    return {
        "postscript": ps,
        "schema": _read_schema(foot),
        "stripes": stripes,
        "num_rows": pw.get_uint(foot, 6, 0),
        "row_index_stride": pw.get_uint(foot, 8, 0),
        "column_stats": [_decode_col_stats(cs) for cs in pw.get_messages(foot, 7)],
        "content_length": pw.get_uint(foot, 2, 0),
    }


# ---------------------------------------------------------------- RLEs


def decode_byte_rle(buf: bytes, n: int | None = None) -> bytes:
    """RLEv1 byte runs (PRESENT/BOOLEAN carriers, BYTE columns)."""
    out = bytearray()
    pos = 0
    while pos < len(buf) and (n is None or len(out) < n):
        ctrl = buf[pos]
        pos += 1
        if ctrl < 128:
            if pos >= len(buf):
                raise ValueError("orc: byte-RLE run truncated")
            out += buf[pos : pos + 1] * (ctrl + 3)
            pos += 1
        else:
            count = 256 - ctrl
            if pos + count > len(buf):
                raise ValueError("orc: byte-RLE literals truncated")
            out += buf[pos : pos + count]
            pos += count
    if n is not None and len(out) < n:
        raise ValueError("orc: byte-RLE shorter than expected")
    return bytes(out[:n] if n is not None else out)


def decode_bool_rle(buf: bytes, n: int) -> list[bool]:
    packed = decode_byte_rle(buf, (n + 7) // 8)
    out = []
    for i in range(n):
        out.append(bool((packed[i >> 3] >> (7 - (i & 7))) & 1))
    return out


def decode_rlev2(buf: bytes, signed: bool, n: int | None = None) -> list[int]:
    """All four RLEv2 integer sub-encodings (spec §Run Length Encoding v2)."""
    out: list[int] = []
    pos = 0
    while pos < len(buf) and (n is None or len(out) < n):
        first = buf[pos]
        enc = first >> 6
        if enc == 0:  # SHORT_REPEAT
            width = ((first >> 3) & 0x07) + 1
            count = (first & 0x07) + 3
            pos += 1
            if pos + width > len(buf):
                raise ValueError("orc: short-repeat value truncated")
            val = int.from_bytes(buf[pos : pos + width], "big")
            pos += width
            if signed:
                val = zigzag_decode(val)
            out.extend([val] * count)
        elif enc == 1:  # DIRECT
            width = _decode_width((first >> 1) & 0x1F)
            if pos + 1 >= len(buf):
                raise ValueError("orc: direct run header truncated")
            length = ((first & 0x01) << 8 | buf[pos + 1]) + 1
            br = MsbReader(buf, (pos + 2) << 3)
            vals = [br.read(width) for _ in range(length)]
            pos = br.align()
            if signed:
                vals = [zigzag_decode(v) for v in vals]
            out.extend(vals)
        elif enc == 2:  # PATCHED_BASE
            width = _decode_width((first >> 1) & 0x1F)
            if pos + 3 >= len(buf):
                raise ValueError("orc: patched-base header truncated")
            length = ((first & 0x01) << 8 | buf[pos + 1]) + 1
            third, fourth = buf[pos + 2], buf[pos + 3]
            base_bytes = ((third >> 5) & 0x07) + 1
            patch_width = _decode_width(third & 0x1F)
            gap_width = ((fourth >> 5) & 0x07) + 1
            patch_count = fourth & 0x1F
            pos += 4
            if pos + base_bytes > len(buf):
                raise ValueError("orc: patched-base base value truncated")
            base = int.from_bytes(buf[pos : pos + base_bytes], "big")
            sign_mask = 1 << (base_bytes * 8 - 1)
            if base & sign_mask:
                base = -(base & ~sign_mask)
            pos += base_bytes
            br = MsbReader(buf, pos << 3)
            vals = [br.read(width) for _ in range(length)]
            br.align()
            combined = _closest_fixed_bits(gap_width + patch_width)
            patches = [br.read(combined) for _ in range(patch_count)]
            pos = br.align()
            idx = 0
            mask = (1 << patch_width) - 1
            for packed in patches:
                gap = packed >> patch_width
                patch = packed & mask
                idx += gap
                if patch == 0:
                    # 255-gap continuation entry carries no patch
                    continue
                if idx >= length:
                    raise ValueError("orc: patch index beyond run length")
                vals[idx] |= patch << width
            out.extend(base + v for v in vals)
        else:  # DELTA
            width_code = (first >> 1) & 0x1F
            if pos + 1 >= len(buf):
                raise ValueError("orc: delta run header truncated")
            length = ((first & 0x01) << 8 | buf[pos + 1]) + 1
            pos += 2
            base, pos = read_uvarint(buf, pos)
            if signed:
                base = zigzag_decode(base)
            delta_base, pos = read_uvarint(buf, pos)
            delta_base = zigzag_decode(delta_base)
            vals = [base]
            if length > 1:
                vals.append(base + delta_base)
            if width_code == 0:
                for _ in range(length - 2):
                    vals.append(vals[-1] + delta_base)
            else:
                width = _decode_width(width_code)
                br = MsbReader(buf, pos << 3)
                sign = 1 if delta_base >= 0 else -1
                for _ in range(length - 2):
                    vals.append(vals[-1] + sign * br.read(width))
                pos = br.align()
            out.extend(vals)
    if n is not None and len(out) < n:
        raise ValueError("orc: RLEv2 run shorter than expected")
    return out[:n] if n is not None else out


# ------------------------------------------------------------- columns


def _iso_ts(epoch_s: int, nanos: int) -> str:
    """Canonical ISO rendering of (epoch seconds, nanoseconds), micros
    precision trimmed like the parquet stats renderer."""
    from .parquet_meta import _civil_from_days

    days, rem = divmod(epoch_s, 86400)
    y, m, d = _civil_from_days(days)
    hh, rem2 = divmod(rem, 3600)
    mm, ss = divmod(rem2, 60)
    out = f"{y:04d}-{m:02d}-{d:02d} {hh:02d}:{mm:02d}:{ss:02d}"
    if nanos:
        frac = f"{nanos:09d}".rstrip("0")
        out += "." + frac
    return out


def _render_decimal(unscaled: int, scale: int) -> str:
    if scale <= 0:
        return str(unscaled * 10 ** (-scale))
    sign = "-" if unscaled < 0 else ""
    digits = str(abs(unscaled)).rjust(scale + 1, "0")
    return f"{sign}{digits[:-scale]}.{digits[-scale:]}"


def _iso_date(days: int | None) -> str | None:
    if days is None:
        return None
    from .parquet_meta import _civil_from_days

    y, m, d = _civil_from_days(days)
    return f"{y:04d}-{m:02d}-{d:02d}"


def _apply_present(values: list, present: list[bool] | None) -> list:
    if present is None:
        return values
    out = []
    it = iter(values)
    for p in present:
        out.append(next(it) if p else None)
    return out


def read_stripe_columns(
    region: bytes,
    stripe: dict,
    schema: list[dict],
    compression: str,
) -> dict[str, list]:
    """Decode one stripe given its full byte region
    ``[offset, offset + index + data + stripe-footer)`` — the unit a
    range-read task fetches.  Returns {column_name: values}."""
    il, dl, fl = (
        stripe["index_length"],
        stripe["data_length"],
        stripe["footer_length"],
    )
    if il + dl + fl != len(region):
        raise ValueError("orc: stripe region size mismatch")
    nrows = stripe["num_rows"]
    sf = pw.parse_message(_decompress(region[il + dl :], compression))
    encodings = {
        i: (pw.get_uint(ce, 1, 0), pw.get_uint(ce, 2, 0))
        for i, ce in enumerate(pw.get_messages(sf, 2))
    }
    # Streams lie consecutively from the stripe start in listed order.
    streams: dict[tuple[int, int], bytes] = {}
    pos = 0
    for st in pw.get_messages(sf, 1):
        kind = pw.get_uint(st, 1, 0)
        col = pw.get_uint(st, 2, 0)
        ln = pw.get_uint(st, 3, 0)
        if pos + ln > il + dl:
            raise ValueError("orc: stream runs past stripe data region")
        streams[(col, kind)] = region[pos : pos + ln]
        pos += ln

    root = schema[0]
    if root["kind"] != "STRUCT":
        raise NotImplementedError("orc: non-struct root schema unsupported")

    def data(col: int, kind: int) -> bytes:
        raw = streams.get((col, kind))
        return b"" if raw is None else _decompress(raw, compression)

    def _decode_one(col: int, n_rows: int) -> list:
        t = schema[col]
        enc, dict_size = encodings.get(col, (ENC_DIRECT, 0))
        present = None
        if (col, SK_PRESENT) in streams:
            present = decode_bool_rle(data(col, SK_PRESENT), n_rows)
            n_vals = sum(present)
        else:
            n_vals = n_rows
        kind = t["kind"]
        if kind in ("SHORT", "INT", "LONG"):
            vals = decode_rlev2(data(col, SK_DATA), True, n_vals)
        elif kind == "DATE":
            vals = [
                _iso_date(v)
                for v in decode_rlev2(data(col, SK_DATA), True, n_vals)
            ]
        elif kind == "DOUBLE":
            raw = data(col, SK_DATA)
            if len(raw) < 8 * n_vals:
                raise ValueError("orc: DOUBLE stream shorter than expected")
            vals = list(struct.unpack(f"<{n_vals}d", raw[: 8 * n_vals]))
        elif kind == "FLOAT":
            raw = data(col, SK_DATA)
            if len(raw) < 4 * n_vals:
                raise ValueError("orc: FLOAT stream shorter than expected")
            vals = list(struct.unpack(f"<{n_vals}f", raw[: 4 * n_vals]))
        elif kind == "BOOLEAN":
            vals = decode_bool_rle(data(col, SK_DATA), n_vals)
        elif kind == "BYTE":
            vals = [
                b - 256 if b >= 128 else b
                for b in decode_byte_rle(data(col, SK_DATA), n_vals)
            ]
        elif kind == "TIMESTAMP":
            # spec: DATA = signed seconds relative to 2015-01-01 00:00:00,
            # SECONDARY = nanos with the trailing-zero scale trick (low
            # 3 bits = removed zero count; if set, multiply by
            # 10^(count+1)); a pre-base value with nanos borrows one
            # second (nanos always count forward)
            secs = decode_rlev2(data(col, SK_DATA), True, n_vals)
            nraw = decode_rlev2(data(col, SK_SECONDARY), False, n_vals)
            vals = []
            for sec, nr in zip(secs, nraw):
                # pre-1970 instants store TRUNCATED seconds with
                # NEGATIVE nanos — the two's-complement value rides the
                # nominally-unsigned stream (C++ writer semantics,
                # pinned by the pyarrow differential: -5e8 arrives as
                # (-5<<3)|7 = -33)
                v = nr if nr < (1 << 63) else nr - (1 << 64)
                zeros = v & 7
                nanos = v >> 3
                if zeros:
                    nanos *= 10 ** (zeros + 1)
                if abs(nanos) > 999_999_999:
                    raise ValueError("orc: nanoseconds out of range")
                epoch = sec + 1_420_070_400  # 2015-01-01T00:00:00Z
                if nanos < 0:
                    epoch -= 1
                    nanos += 1_000_000_000
                vals.append(_iso_ts(epoch, nanos))
        elif kind == "DECIMAL":
            # spec: DATA = unbounded zigzag varints of the unscaled
            # value, SECONDARY = per-value scale (signed RLEv2); precision
            # 38 needs at most 128 zigzag bits, so 19 varint bytes
            buf, at, mags = data(col, SK_DATA), 0, []
            for _ in range(n_vals):
                m, at = read_uvarint(buf, at, max_bytes=19)
                mags.append(zigzag_decode(m))
            scales = decode_rlev2(data(col, SK_SECONDARY), True, n_vals)
            vals = [_render_decimal(m, sc) for m, sc in zip(mags, scales)]
        elif kind in ("STRING", "VARCHAR", "CHAR", "BINARY"):
            as_text = kind != "BINARY"
            if enc == ENC_DICTIONARY_V2:
                lengths = decode_rlev2(data(col, SK_LENGTH), False, dict_size)
                blob = data(col, SK_DICTIONARY_DATA)
                entries, at = [], 0
                for ln in lengths:
                    if at + ln > len(blob):
                        raise ValueError("orc: dictionary blob truncated")
                    entries.append(blob[at : at + ln])
                    at += ln
                idxs = decode_rlev2(data(col, SK_DATA), False, n_vals)
                if any(i >= len(entries) for i in idxs):
                    raise ValueError("orc: dictionary index out of range")
                vals = [entries[i] for i in idxs]
            elif enc == ENC_DIRECT_V2:
                lengths = decode_rlev2(data(col, SK_LENGTH), False, n_vals)
                blob = data(col, SK_DATA)
                vals, at = [], 0
                for ln in lengths:
                    if at + ln > len(blob):
                        raise ValueError("orc: string data truncated")
                    vals.append(blob[at : at + ln])
                    at += ln
            else:
                raise NotImplementedError(
                    f"orc: RLEv1 string encoding {enc} unsupported (the C++ "
                    "and Java writers emit *_V2; hotpath-only seam)"
                )
            if as_text:
                vals = [v.decode("utf-8", errors="replace") for v in vals]
        elif kind == "LIST":
            # spec: the list column carries LENGTH (one count per
            # present row); the child column holds sum(lengths) slots
            # with its own PRESENT/DATA streams — recurse
            lengths = decode_rlev2(data(col, SK_LENGTH), False, n_vals)
            child = _decode_one(t["subtypes"][0], sum(lengths))
            vals = []
            at = 0
            for ln in lengths:
                if at + ln > len(child):
                    raise ValueError("orc: list lengths overrun child column")
                vals.append(child[at : at + ln])
                at += ln
        else:
            raise NotImplementedError(
                f"orc: column type {kind} unsupported (documented seam: "
                "MAP/UNION/nested-STRUCT decode not claimed)"
            )
        return _apply_present(vals, present)

    out: dict[str, list] = {}
    for name, col in zip(root["field_names"], root["subtypes"]):
        out[name] = _decode_one(col, nrows)
    return out


def read_tail_ranged(path: str) -> dict:
    """Range-read ONLY the file tail (postscript + footer) from a path —
    the metadata-only access shape: a first 16 KB tail probe, widened to
    exactly ``1 + psLen + footerLength`` if the footer is larger.  The
    returned stripe offsets are absolute file positions for subsequent
    per-stripe range reads; the data itself is never touched."""
    import os as _os

    size = _os.path.getsize(path)
    with open(path, "rb") as fh:
        fh.seek(max(0, size - 16384))
        buf = fh.read()
        ps = read_postscript(buf)
        need = 1 + ps["ps_length"] + ps["footer_length"] + ps["metadata_length"]
        if need > len(buf):
            if need > size:
                raise ValueError("orc: footer length runs past start of file")
            fh.seek(size - need)
            buf = fh.read()
        return read_file_tail(buf)


def read_orc(blob: bytes) -> tuple[dict, dict[str, list]]:
    """Whole-file read: (file tail metadata, {column: values})."""
    tail = read_file_tail(blob)
    comp = tail["postscript"]["compression"]
    root = tail["schema"][0]
    cols: dict[str, list] = {n: [] for n in root.get("field_names", [])}
    for s in tail["stripes"]:
        start, end = s["offset"], s["offset"] + s["index_length"] + s[
            "data_length"
        ] + s["footer_length"]
        if end > len(blob):
            raise ValueError("orc: stripe runs past end of file")
        got = read_stripe_columns(blob[start:end], s, tail["schema"], comp)
        for name, vals in got.items():
            cols[name].extend(vals)
    return tail, cols

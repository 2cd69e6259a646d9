"""Parquet data pages — own pure-stdlib column reader, completing the
own parquet stack: parquet_meta.py reads the footer (Thrift compact),
THIS module reads the pages it points at.  Written from the public
parquet-format spec (PageHeader/DataPageHeader/DictionaryPageHeader
Thrift structs, the RLE/bit-packed hybrid, PLAIN and RLE_DICTIONARY
encodings, per-page block compression).

Why this exists: with snappy.py in hand (parquet-cpp's default codec),
the REAL driver testdata — snappy-compressed, arrow-written parquet —
is decodable end-to-end by an independent in-repo implementation.
That closes the loop the ORC codec already has: the engine can verify
its own lake bytes without trusting the JVM reader that wrote them,
and the per-column-chunk range-read shape (footer offsets → one chunk
per task) is the parquet twin of ORC's stripe unit.

Implemented from the spec:

- **Page stream**: from ``dictionary_page_offset`` (else
  ``data_page_offset``), ``total_compressed_size`` bytes of
  back-to-back pages, each a Thrift-compact PageHeader (type 1,
  uncompressed/compressed sizes 2/3, data_page_header 5,
  dictionary_page_header 7) followed by its block-compressed payload
  (UNCOMPRESSED / SNAPPY, ZSTD, LZ4_RAW via the own codecs / GZIP member via zlib).
- **Data page v1** payload: repetition levels (absent at max level 0),
  definition levels (RLE/bit-packed hybrid behind a 4-byte LE length,
  bit width ceil(log2(max_def+1)), width 0 = nothing stored), then
  values.
- **Data page v2**: header-carried level byte lengths, levels stored
  UNCOMPRESSED ahead of the (optionally compressed) values region, no
  4-byte level-length prefixes — what parquet-mr 2.x writers emit.
- **RLE/bit-packed hybrid**: varint header, LSB 0 → run of
  ``header>>1`` copies of a ceil(width/8)-byte LE value, LSB 1 →
  ``(header>>1)*8`` values bit-packed LSB-FIRST (little-endian bit
  order — the opposite of ORC's, a classic cross-codec trap).
- **Encodings**: PLAIN (INT32/INT64/FLOAT/DOUBLE little-endian,
  BYTE_ARRAY 4-byte-LE-length-prefixed, BOOLEAN bit-packed LSB),
  PLAIN_DICTIONARY/RLE_DICTIONARY (dictionary page PLAIN-decoded, data
  pages carry a 1-byte bit width + hybrid-coded indexes).
  DELTA_BINARY_PACKED (block/miniblock zigzag-header modular deltas,
  32- and 64-bit), DELTA_LENGTH_BYTE_ARRAY, DELTA_BYTE_ARRAY (prefix
  compression) and BYTE_STREAM_SPLIT (byte planes) — the modern v2
  writer defaults — all decode; anything else raises the loud
  NotImplementedError class (documented seams, not silent nulls).
- **Logical views** mirror parquet_meta's stats rendering: INT64
  timestamps → ISO strings, INT32 DATE → ISO dates, BYTE_ARRAY UTF8 →
  str — so values join cleanly against SQL-side expectations.

Cross-validated in tests/test_parquet_data.py against TWO independent
readers of the same arrow-written files — DuckDB and Spark's own JVM
scan — value-for-value on every supported column of the driver
testdata, plus pyarrow-written fixtures with nulls, multiple row
groups and plain-fallback pages.

Damage (truncated page header, payload shorter than the header claims,
dictionary index past the dictionary, hybrid run overrunning the
chunk) raises ValueError — one chunk costs one record, never the job.
"""

from __future__ import annotations

import struct

from .bitio import read_uvarint, zigzag_decode
from .compression import decompress
from .parquet_meta import _Reader, _read_struct, _civil_from_days, _iso_from_epoch

# Page types (parquet.thrift PageType).
PT_DATA = 0
PT_INDEX = 1
PT_DICTIONARY = 2
PT_DATA_V2 = 3

# Encodings (parquet.thrift Encoding).
E_PLAIN = 0
E_PLAIN_DICTIONARY = 2
E_RLE = 3
E_DELTA_BINARY_PACKED = 5
E_DELTA_LENGTH_BYTE_ARRAY = 6
E_DELTA_BYTE_ARRAY = 7
E_RLE_DICTIONARY = 8
E_BYTE_STREAM_SPLIT = 9

# parquet.thrift CompressionCodec names -> operators.compression codecs
_CODECS = {"SNAPPY": "snappy", "GZIP": "gzip", "ZSTD": "zstd", "LZ4_RAW": "lz4_block"}


def _decompress(payload: bytes, codec: str, uncompressed_size: int) -> bytes:
    if codec == "UNCOMPRESSED":
        out = payload
    elif codec in _CODECS:
        out = decompress(_CODECS[codec], payload, limit=uncompressed_size)
    else:
        raise NotImplementedError(
            f"parquet page: codec {codec} unsupported (UNCOMPRESSED/SNAPPY/"
            "GZIP/ZSTD/LZ4_RAW decode; BROTLI's static dictionary is not "
            "honestly transcribable in-container, and legacy Hadoop-framed "
            "LZ4 stays a loud seam)"
        )
    if len(out) != uncompressed_size:
        raise ValueError(
            f"parquet page: decompressed {len(out)} bytes, header claims "
            f"{uncompressed_size}"
        )
    return out


def _read_hybrid(buf: bytes, pos: int, width: int, n: int) -> tuple[list[int], int]:
    """The RLE/bit-packed hybrid: n values of `width` bits from buf@pos."""
    out: list[int] = []
    if width == 0:
        return [0] * n, pos
    byte_width = (width + 7) // 8
    while len(out) < n:
        if pos >= len(buf):
            raise ValueError("parquet page: hybrid run truncated")
        header, pos = read_uvarint(buf, pos)
        if header & 1:  # bit-packed groups, LSB-first
            count = (header >> 1) * 8
            need = (count * width + 7) // 8
            if pos + need > len(buf):
                raise ValueError("parquet page: bit-packed group truncated")
            bits = int.from_bytes(buf[pos : pos + need], "little")
            mask = (1 << width) - 1
            take = min(count, n - len(out))
            for i in range(take):
                out.append((bits >> (i * width)) & mask)
            pos += need
        else:  # RLE run
            run = header >> 1
            if pos + byte_width > len(buf):
                raise ValueError("parquet page: RLE run value truncated")
            val = int.from_bytes(buf[pos : pos + byte_width], "little")
            pos += byte_width
            out.extend([val] * min(run, n - len(out)))
    return out[:n], pos


_M64 = (1 << 64) - 1


def _delta_binary_packed(buf: bytes, pos: int, bits32: bool) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED (parquet spec Encodings.md): block size /
    miniblock count / total count / zigzag first value header, then per
    block a zigzag min-delta, one bit-width byte per miniblock, and
    LSB-first bit-packed unsigned delta offsets.  Arithmetic is modular
    in the column's width, per the spec."""
    block_size, pos = read_uvarint(buf, pos)
    n_mini, pos = read_uvarint(buf, pos)
    total, pos = read_uvarint(buf, pos)
    first_z, pos = read_uvarint(buf, pos)
    if n_mini == 0 or block_size % 128 or block_size % n_mini:
        raise ValueError("parquet page: invalid DELTA_BINARY_PACKED header")
    per_mini = block_size // n_mini
    mask = 0xFFFFFFFF if bits32 else _M64
    sign_bit = 1 << (31 if bits32 else 63)

    def signed(v: int) -> int:
        v &= mask
        return v - (mask + 1) if v & sign_bit else v

    if total == 0:
        return [], pos
    out = [signed(zigzag_decode(first_z))]
    cur = out[0]
    while len(out) < total:
        min_z, pos = read_uvarint(buf, pos)
        min_delta = zigzag_decode(min_z)
        if pos + n_mini > len(buf):
            raise ValueError("parquet page: DELTA block widths truncated")
        widths = buf[pos : pos + n_mini]
        pos += n_mini
        for w in widths:
            need = per_mini * w // 8
            if pos + need > len(buf):
                raise ValueError("parquet page: DELTA miniblock truncated")
            if len(out) >= total:
                pos += need  # fully-padded trailing miniblocks
                continue
            bits = int.from_bytes(buf[pos : pos + need], "little")
            pos += need
            wmask = (1 << w) - 1
            for i in range(per_mini):
                if len(out) >= total:
                    break
                cur = signed(cur + min_delta + ((bits >> (i * w)) & wmask))
                out.append(cur)
    return out, pos


def _delta_length_byte_array(buf: bytes, pos: int, n: int) -> tuple[list[bytes], int]:
    lengths, pos = _delta_binary_packed(buf, pos, bits32=False)
    if len(lengths) != n:
        raise ValueError("parquet page: DELTA_LENGTH count disagrees with page")
    out = []
    for ln in lengths:
        if ln < 0 or pos + ln > len(buf):
            raise ValueError("parquet page: DELTA_LENGTH bytes truncated")
        out.append(buf[pos : pos + ln])
        pos += ln
    return out, pos


def _delta_byte_array(buf: bytes, pos: int, n: int) -> tuple[list[bytes], int]:
    prefixes, pos = _delta_binary_packed(buf, pos, bits32=False)
    if len(prefixes) != n:
        raise ValueError("parquet page: DELTA prefix count disagrees with page")
    suffixes, pos = _delta_length_byte_array(buf, pos, n)
    out: list[bytes] = []
    prev = b""
    for pre, suf in zip(prefixes, suffixes):
        if pre < 0 or pre > len(prev):
            raise ValueError("parquet page: DELTA prefix beyond previous value")
        prev = prev[:pre] + suf
        out.append(prev)
    return out, pos


def _byte_stream_split(buf: bytes, pos: int, n: int, phys: str) -> list:
    width = {"FLOAT": 4, "DOUBLE": 8, "INT32": 4, "INT64": 8}.get(phys)
    if width is None:
        raise NotImplementedError(
            f"parquet page: BYTE_STREAM_SPLIT over {phys} unsupported"
        )
    if pos + n * width > len(buf):
        raise ValueError("parquet page: BYTE_STREAM_SPLIT planes truncated")
    planes = [buf[pos + k * n : pos + (k + 1) * n] for k in range(width)]
    fmt = {"FLOAT": "<f", "DOUBLE": "<d", "INT32": "<i", "INT64": "<q"}[phys]
    return [
        struct.unpack(fmt, bytes(p[i] for p in planes))[0] for i in range(n)
    ]


def _plain_values(
    buf: bytes, pos: int, n: int, phys: str, type_length: int | None = None
) -> tuple[list, int]:
    if phys == "INT64":
        end = pos + 8 * n
        if end > len(buf):
            raise ValueError("parquet page: PLAIN INT64 values truncated")
        return list(struct.unpack(f"<{n}q", buf[pos:end])), end
    if phys == "INT32":
        end = pos + 4 * n
        if end > len(buf):
            raise ValueError("parquet page: PLAIN INT32 values truncated")
        return list(struct.unpack(f"<{n}i", buf[pos:end])), end
    if phys == "DOUBLE":
        end = pos + 8 * n
        if end > len(buf):
            raise ValueError("parquet page: PLAIN DOUBLE values truncated")
        return list(struct.unpack(f"<{n}d", buf[pos:end])), end
    if phys == "FLOAT":
        end = pos + 4 * n
        if end > len(buf):
            raise ValueError("parquet page: PLAIN FLOAT values truncated")
        return list(struct.unpack(f"<{n}f", buf[pos:end])), end
    if phys == "BYTE_ARRAY":
        out = []
        for _ in range(n):
            if pos + 4 > len(buf):
                raise ValueError("parquet page: BYTE_ARRAY length truncated")
            ln = struct.unpack("<I", buf[pos : pos + 4])[0]
            pos += 4
            if pos + ln > len(buf):
                raise ValueError("parquet page: BYTE_ARRAY value truncated")
            out.append(buf[pos : pos + ln])
            pos += ln
        return out, pos
    if phys == "INT96":
        # legacy Hive/Impala timestamps: 8-byte LE nanos-of-day + 4-byte
        # LE Julian day — rendered by the logical view
        end = pos + 12 * n
        if end > len(buf):
            raise ValueError("parquet page: PLAIN INT96 values truncated")
        out = []
        for i in range(n):
            nanos, jday = struct.unpack_from("<qi", buf, pos + 12 * i)
            out.append((jday, nanos))
        return out, end
    if phys == "FIXED_LEN_BYTE_ARRAY":
        if not type_length:
            raise ValueError("parquet page: FLBA without a type length")
        end = pos + type_length * n
        if end > len(buf):
            raise ValueError("parquet page: PLAIN FLBA values truncated")
        return (
            [buf[pos + i * type_length : pos + (i + 1) * type_length] for i in range(n)],
            end,
        )
    if phys == "BOOLEAN":
        need = (n + 7) // 8
        if pos + need > len(buf):
            raise ValueError("parquet page: PLAIN BOOLEAN values truncated")
        bits = int.from_bytes(buf[pos : pos + need], "little")
        return [bool((bits >> i) & 1) for i in range(n)], pos + need
    raise NotImplementedError(
        f"parquet page: PLAIN decode for {phys} unsupported (INT96/FLBA seam)"
    )


def _logical_view(values: list, elem: dict) -> list:
    phys = elem.get("physical")
    logical = elem.get("logical")
    converted = elem.get("converted")
    if phys == "BYTE_ARRAY" and (
        logical == "STRING" or converted == 0 or elem.get("utf8", True)
    ):
        return [
            v.decode("utf-8", errors="replace") if v is not None else None
            for v in values
        ]
    if phys == "INT64" and (logical or "").startswith("TIMESTAMP"):
        scale = {
            "TIMESTAMP_MILLIS": 1000,
            "TIMESTAMP_MICROS": 1,
            "TIMESTAMP_NANOS": None,
        }[logical]
        return [
            None
            if v is None
            else _iso_from_epoch(v * scale if scale else v // 1000)
            for v in values
        ]
    if phys == "INT96":
        # Julian day + nanos-of-day -> ISO (legacy Hive timestamps)
        out = []
        for v in values:
            if v is None:
                out.append(None)
                continue
            jday, nanos = v
            epoch_s = (jday - 2440588) * 86400 + nanos // 1_000_000_000
            out.append(_iso_from_epoch(epoch_s * 1_000_000 + (nanos % 1_000_000_000) // 1000))
        return out
    if logical == "DECIMAL" or converted == 5:
        scale = elem.get("scale") or 0
        out = []
        for v in values:
            if v is None:
                out.append(None)
                continue
            if isinstance(v, (bytes, bytearray)):  # FLBA/BYTE_ARRAY store
                unscaled = int.from_bytes(v, "big", signed=True)
            else:  # INT32/INT64 store
                unscaled = int(v)
            out.append(_render_decimal(unscaled, scale))
        return out
    if phys == "INT32" and (logical == "DATE" or converted == 6):
        out = []
        for v in values:
            if v is None:
                out.append(None)
            else:
                y, m, d = _civil_from_days(v)
                out.append(f"{y:04d}-{m:02d}-{d:02d}")
        return out
    return values


def _decode_values(
    payload: bytes, at: int, encoding: int, n_present: int, phys: str,
    dictionary: list | None, type_length: int | None = None,
) -> list:
    """The values region of a data page, v1 or v2, any supported
    encoding."""
    if encoding in (E_RLE_DICTIONARY, E_PLAIN_DICTIONARY):
        if dictionary is None:
            raise ValueError("parquet page: dictionary page missing")
        if at >= len(payload) and n_present:
            raise ValueError("parquet page: dictionary bit width missing")
        width = payload[at] if at < len(payload) else 0
        idxs, _ = _read_hybrid(payload, at + 1, width, n_present)
        if any(i >= len(dictionary) for i in idxs):
            raise ValueError("parquet page: dictionary index out of range")
        return [dictionary[i] for i in idxs]
    if encoding == E_PLAIN:
        vals, _ = _plain_values(payload, at, n_present, phys, type_length)
        return vals
    if encoding == E_DELTA_BINARY_PACKED:
        if phys not in ("INT32", "INT64"):
            raise ValueError(
                f"parquet page: DELTA_BINARY_PACKED over {phys}"
            )
        if n_present == 0:
            return []
        vals, _ = _delta_binary_packed(payload, at, bits32=phys == "INT32")
        if len(vals) != n_present:
            raise ValueError(
                "parquet page: DELTA count disagrees with page header"
            )
        return vals
    if encoding == E_DELTA_LENGTH_BYTE_ARRAY:
        if phys != "BYTE_ARRAY":
            raise ValueError(f"parquet page: DELTA_LENGTH over {phys}")
        vals, _ = _delta_length_byte_array(payload, at, n_present)
        return vals
    if encoding == E_DELTA_BYTE_ARRAY:
        if phys != "BYTE_ARRAY":
            raise ValueError(f"parquet page: DELTA_BYTE_ARRAY over {phys}")
        vals, _ = _delta_byte_array(payload, at, n_present)
        return vals
    if encoding == E_BYTE_STREAM_SPLIT:
        return _byte_stream_split(payload, at, n_present, phys)
    raise NotImplementedError(
        f"parquet page: encoding {encoding} unsupported (PLAIN, "
        "dictionary, DELTA_BINARY_PACKED, DELTA_LENGTH/DELTA_BYTE_ARRAY "
        "and BYTE_STREAM_SPLIT decode)"
    )


def _render_decimal(unscaled: int, scale: int) -> str:
    if scale <= 0:
        return str(unscaled * 10 ** (-scale))
    sign = "-" if unscaled < 0 else ""
    digits = str(abs(unscaled)).rjust(scale + 1, "0")
    return f"{sign}{digits[:-scale]}.{digits[-scale:]}"


def read_column_chunk(chunk: bytes, col: dict, elem: dict, raw: bool = False) -> list:
    """Decode one column chunk's pages.  ``chunk`` is the byte slice
    ``[first_page_offset, +total_compressed_size)``; ``col`` is the cooked
    ColumnMetaData dict from parquet_meta.parse_file_meta; ``elem`` the
    matching schema element.  Returns python values with None for nulls
    (and logical string views unless ``raw``)."""
    phys = col["physical"]
    codec = col["codec"]
    want = col["num_values"]
    max_def = elem.get("max_def", 1 if elem.get("optional", True) else 0)
    max_rep = elem.get("max_rep", 0)
    if max_rep > 1:
        raise NotImplementedError(
            "parquet page: nesting deeper than one repeated level "
            "(list<list<..>>/map) unsupported — documented seam"
        )
    def_w = max_def.bit_length()
    rep_w = max_rep.bit_length()
    dictionary: list | None = None
    defs: list[int] = []
    reps: list[int] = []
    packed: list = []
    pos = 0
    while len(defs) < want:
        r = _Reader(chunk, pos)
        header = _read_struct(r)
        payload_at = r.pos
        ptype = header.get(1)
        un_size = header.get(2, 0)
        c_size = header.get(3, 0)
        if payload_at + c_size > len(chunk):
            raise ValueError("parquet page: payload runs past column chunk")
        if ptype == PT_DATA_V2:
            # v2 layout: [rep levels][def levels] UNCOMPRESSED, then the
            # values region (compressed iff is_compressed); level runs
            # are plain hybrid with NO 4-byte length prefix — the
            # byte lengths live in the header
            dh2 = header.get(8) or {}
            n = dh2.get(1, 0)
            encoding = dh2.get(4, E_PLAIN)
            dl_len = dh2.get(5, 0)
            rl_len = dh2.get(6, 0)
            is_compressed = dh2.get(7, True)
            lvl_bytes = chunk[payload_at : payload_at + rl_len + dl_len]
            if len(lvl_bytes) < rl_len + dl_len:
                raise ValueError("parquet page: v2 levels truncated")
            if max_rep:
                page_reps, _ = _read_hybrid(lvl_bytes[:rl_len], 0, rep_w, n)
            else:
                if rl_len:
                    raise ValueError(
                        "parquet page: repetition levels on a flat column"
                    )
                page_reps = [0] * n
            if max_def:
                page_defs, _ = _read_hybrid(lvl_bytes[rl_len:], 0, def_w, n)
            else:
                if dl_len:
                    raise ValueError(
                        "parquet page: v2 def levels on a required column"
                    )
                page_defs = [max_def] * n
            vals_comp = chunk[payload_at + rl_len + dl_len : payload_at + c_size]
            if len(vals_comp) < c_size - rl_len - dl_len:
                raise ValueError("parquet page: v2 values truncated")
            payload = (
                _decompress(vals_comp, codec, un_size - rl_len - dl_len)
                if is_compressed
                else bytes(vals_comp)
            )
            pos = payload_at + c_size
            n_present = sum(1 for d in page_defs if d == max_def)
            vals = _decode_values(
                payload, 0, encoding, n_present, phys, dictionary,
                elem.get("type_length"),
            )
            defs.extend(page_defs)
            reps.extend(page_reps)
            packed.extend(vals)
            continue
        payload = _decompress(
            chunk[payload_at : payload_at + c_size], codec, un_size
        )
        pos = payload_at + c_size
        if ptype == PT_DICTIONARY:
            dh = header.get(7) or {}
            n = dh.get(1, 0)
            dictionary, _ = _plain_values(
                payload, 0, n, phys, elem.get("type_length")
            )
            continue
        if ptype == PT_INDEX:
            continue
        if ptype != PT_DATA:
            raise ValueError(f"parquet page: unknown page type {ptype}")
        dh = header.get(5) or {}
        n = dh.get(1, 0)
        encoding = dh.get(2, E_PLAIN)
        at = 0
        # v1 level layout: repetition levels (iff a repeated ancestor),
        # then definition levels (iff any non-required node), each a
        # 4-byte-LE-length-prefixed hybrid run
        if max_rep:
            if at + 4 > len(payload):
                raise ValueError("parquet page: repetition level length truncated")
            rl_len = struct.unpack("<I", payload[at : at + 4])[0]
            at += 4
            if at + rl_len > len(payload):
                raise ValueError("parquet page: repetition levels truncated")
            page_reps, _ = _read_hybrid(payload[: at + rl_len], at, rep_w, n)
            at += rl_len
        else:
            page_reps = [0] * n
        if max_def:
            if at + 4 > len(payload):
                raise ValueError("parquet page: definition level length truncated")
            dl_len = struct.unpack("<I", payload[at : at + 4])[0]
            at += 4
            if at + dl_len > len(payload):
                raise ValueError("parquet page: definition levels truncated")
            page_defs, _ = _read_hybrid(payload[: at + dl_len], at, def_w, n)
            at += dl_len
        else:
            page_defs = [max_def] * n
        n_present = sum(1 for d in page_defs if d == max_def)
        vals = _decode_values(
            payload, at, encoding, n_present, phys, dictionary,
            elem.get("type_length"),
        )
        defs.extend(page_defs)
        reps.extend(page_reps)
        packed.extend(vals)
    if len(defs) != want:
        raise ValueError(
            f"parquet page: chunk carries {len(defs)} values, footer says {want}"
        )
    it = iter(packed)
    flat = [next(it) if d == max_def else None for d in defs]
    if max_rep == 0:
        return flat if raw else _logical_view(flat, elem)
    # one repeated level (the standard LIST shape): reassemble records
    # from (rep, def) — rep 0 starts a record, def relative to the
    # repeated node's depth decides null list / empty list / slot
    levels = elem["levels"]
    idx_rep = levels.index(2)
    def_above = sum(1 for c in levels[:idx_rep] if c != 0)
    def_at_rep = def_above + 1
    values: list = []
    cur: list | None = None
    started = False
    for rep, d, v in zip(reps, defs, flat):
        if rep == 0:
            if started:
                values.append(cur)
            started = True
            if d < def_above:
                cur = None  # the list (or an ancestor) is null
            elif d < def_at_rep:
                cur = []  # defined to above the repeated node: empty
            else:
                cur = [v]
        else:
            if cur is None:
                raise ValueError(
                    "parquet page: repetition level continues a null list"
                )
            cur.append(v)
    if started:
        values.append(cur)
    if raw:
        return values
    return [None if x is None else _logical_view(x, elem) for x in values]


def read_row_group(path: str, meta: dict, rg_index: int, columns=None) -> dict:
    """Range-read + decode the requested columns of one row group —
    each chunk fetched as its own byte range (the task unit)."""
    rg = meta["row_groups"][rg_index]
    elems = {e["path"]: e for e in meta["columns"]}
    out: dict[str, list] = {}
    with open(path, "rb") as fh:
        for col in rg["columns"]:
            name = col["path"]
            if columns is not None and name not in columns:
                continue
            first = col["dictionary_page_offset"]
            if first is None:
                first = col["data_page_offset"]
            fh.seek(first)
            chunk = fh.read(col["total_compressed_size"])
            if len(chunk) != col["total_compressed_size"]:
                raise ValueError("parquet page: short read of column chunk")
            out[name] = read_column_chunk(chunk, col, elems.get(name, {}))
    return out


def read_parquet_file(path: str, columns=None) -> tuple[dict, dict]:
    """Whole-file read through the own stack (footer + every row group)."""
    from .parquet_meta import parse_file_meta, read_footer_tail

    meta = parse_file_meta(read_footer_tail(path))
    cols: dict[str, list] = {}
    for i in range(len(meta["row_groups"])):
        got = read_row_group(path, meta, i, columns)
        for name, vals in got.items():
            cols.setdefault(name, []).extend(vals)
    return meta, cols

"""LZ4 block and frame formats — own pure-stdlib codec, written from
the public LZ4 specifications (lz4_Block_format.md and
lz4_Frame_format.md in the lz4 repository).

Why this exists: LZ4 is the third leg of the modern columnar-codec
triad beside snappy (snappy.py) and zstd (zstd.py) — ORC's LZ4
compression kind, parquet's LZ4_RAW pages, and ``.lz4`` shard files
all carry it, and CPython ships no LZ4.  Like snappy it is a pure
token-stream algorithm (no entropy tables), so a faithful independent
implementation is honest by construction.

Conformance pin — cross-validated, both directions: libzlz4 ships in
this container twice (pyarrow's ``lz4``/``lz4_raw`` codecs and the
``lz4`` CLI).  tests/test_lz4.py decodes reference blocks and frames
(including multi-block, linked/independent, content-checksummed CLI
output) bit-exact, and the own writer's all-literal blocks and frames
decompress through libzlz4.  XXH32 (frame checksums) is pinned by the
reference frames' own checksum fields plus the published empty-input
check value.

Implemented from the spec:

- **block**: token byte (literal-length nibble, match-length nibble),
  255-extension bytes, 2-byte little-endian match offsets,
  overlap-capable match copies, the end-of-block rules (last sequence
  is literals-only);
- **frame**: magic ``0x184D2204``, FLG/BD descriptor (version 01,
  block-independence, block/content checksum flags, content size,
  dict-ID refusal), header-checksum byte (xxh32>>8), 4-byte block
  headers with the high uncompressed bit, EndMark, content checksum;
- **writer**: all-literal blocks (the stored-deflate analogue — legal
  LZ4 every consumer reads) in an independent-block frame.

Damage (bad magic, version lies, header-checksum lies, offset beyond
history, truncated sequences, checksum mismatches) raises ValueError:
one shard costs one record, never the job.
"""

from __future__ import annotations

import struct

from .compression import MAX_OUTPUT

_MAGIC = 0x184D2204

# ------------------------------------------------------------- xxh32
_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    pos = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        lanes = struct.unpack_from("<%dI" % ((n // 16) * 4), data)
        for i in range(0, len(lanes), 4):
            v1 = (_rotl32((v1 + lanes[i] * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + lanes[i + 1] * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + lanes[i + 2] * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + lanes[i + 3] * _P2) & _M32, 13) * _P1) & _M32
        pos = (n // 16) * 16
        h = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h = (_rotl32((h + k * _P3) & _M32, 17) * _P4) & _M32
        pos += 4
    while pos < n:
        h = (_rotl32((h + data[pos] * _P5) & _M32, 11) * _P1) & _M32
        pos += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


# ------------------------------------------------------------- block
def _decode_block_into(out: bytearray, src: bytes, history_floor: int) -> None:
    """Decode one block appending to ``out``; matches may reach back to
    ``history_floor`` (0 for block-LINKED frames, the block's own start
    for independent blocks and standalone block decodes)."""
    pos = 0
    n = len(src)
    if n == 0:
        return
    while True:
        if pos >= n:
            raise ValueError("lz4: truncated block (missing token)")
        token = src[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated literal-length bytes")
                b = src[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise ValueError("lz4: literals run past block end")
        out += src[pos : pos + lit_len]
        pos += lit_len
        if pos == n:
            break  # last sequence is literals-only, per the spec
        if pos + 2 > n:
            raise ValueError("lz4: truncated match offset")
        offset = src[pos] | (src[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError("lz4: zero match offset is invalid")
        if offset > len(out) - history_floor:
            raise ValueError("lz4: match offset beyond history")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated match-length bytes")
                b = src[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        if len(out) + match_len > MAX_OUTPUT:
            raise ValueError("lz4: output beyond the 1 GiB bomb ceiling")
        if offset >= match_len:
            start = len(out) - offset
            out += out[start : start + match_len]
        else:
            start = len(out) - offset
            for _ in range(match_len):
                out.append(out[start])
                start += 1


def decompress_block(src: bytes) -> bytes:
    """One standalone LZ4 block (the parquet LZ4_RAW / ORC chunk
    payload shape)."""
    out = bytearray()
    _decode_block_into(out, src, 0)
    return bytes(out)


def compress_block_literal(data: bytes) -> bytes:
    """A spec-legal all-literal block (the stored-deflate analogue)."""
    out = bytearray()
    lit_len = len(data)
    if lit_len >= 15:
        out.append(0xF0)
        rest = lit_len - 15
        while rest >= 255:
            out.append(255)
            rest -= 255
        out.append(rest)
    else:
        out.append(lit_len << 4)
    out += data
    return bytes(out)


# ------------------------------------------------------------- frame
def decompress_frame(blob: bytes) -> bytes:
    """All LZ4 frames in ``blob``, concatenated; skippable frames
    (``0x184D2A50``–``5F``) skipped."""
    pos = 0
    parts: list[bytes] = []
    while pos < len(blob):
        if pos + 4 > len(blob):
            raise ValueError("lz4: truncated frame magic")
        magic = int.from_bytes(blob[pos : pos + 4], "little")
        pos += 4
        if (magic & 0xFFFFFFF0) == 0x184D2A50:
            if pos + 4 > len(blob):
                raise ValueError("lz4: truncated skippable frame")
            size = int.from_bytes(blob[pos : pos + 4], "little")
            pos += 4 + size
            if pos > len(blob):
                raise ValueError("lz4: skippable frame overruns input")
            continue
        if magic != _MAGIC:
            raise ValueError(f"lz4: bad frame magic {magic:#x}")
        if pos + 2 > len(blob):
            raise ValueError("lz4: truncated frame descriptor")
        flg = blob[pos]
        bd = blob[pos + 1]
        desc_at = pos
        pos += 2
        if (flg >> 6) != 0b01:
            raise ValueError("lz4: unsupported frame version")
        block_independence = (flg >> 5) & 1
        block_checksum = (flg >> 4) & 1
        content_size_flag = (flg >> 3) & 1
        content_checksum = (flg >> 2) & 1
        dict_id = flg & 1
        if flg & 0b10:
            raise ValueError("lz4: reserved FLG bit set")
        if bd & 0x8F:
            raise ValueError("lz4: reserved BD bits set")
        content_size = None
        if content_size_flag:
            if pos + 8 > len(blob):
                raise ValueError("lz4: truncated content size")
            content_size = int.from_bytes(blob[pos : pos + 8], "little")
            pos += 8
        if dict_id:
            raise ValueError("lz4: dictionary frames unsupported")
        if pos >= len(blob):
            raise ValueError("lz4: truncated header checksum")
        want_hc = blob[pos]
        got_hc = (xxh32(blob[desc_at:pos]) >> 8) & 0xFF
        pos += 1
        if want_hc != got_hc:
            raise ValueError("lz4: frame header checksum mismatch")
        out = bytearray()
        while True:
            if len(out) > MAX_OUTPUT:
                raise ValueError("lz4: output beyond the 1 GiB bomb ceiling")
            if pos + 4 > len(blob):
                raise ValueError("lz4: truncated block header")
            bh = int.from_bytes(blob[pos : pos + 4], "little")
            pos += 4
            if bh == 0:
                break  # EndMark
            uncompressed = bh >> 31
            size = bh & 0x7FFFFFFF
            if pos + size > len(blob):
                raise ValueError("lz4: truncated frame block")
            chunk = blob[pos : pos + size]
            pos += size
            if block_checksum:
                if pos + 4 > len(blob):
                    raise ValueError("lz4: truncated block checksum")
                (want_bc,) = struct.unpack_from("<I", blob, pos)
                pos += 4
                if xxh32(chunk) != want_bc:
                    raise ValueError("lz4: block checksum mismatch")
            if uncompressed:
                out += chunk
            else:
                # block-LINKED frames let matches reach the previous
                # blocks' output (64 KiB window); independent blocks
                # must not
                _decode_block_into(
                    out, chunk, 0 if not block_independence else len(out)
                )
        if content_checksum:
            if pos + 4 > len(blob):
                raise ValueError("lz4: truncated content checksum")
            (want_cc,) = struct.unpack_from("<I", blob, pos)
            pos += 4
            if xxh32(bytes(out)) != want_cc:
                raise ValueError("lz4: content checksum mismatch")
        if content_size is not None and len(out) != content_size:
            raise ValueError(
                f"lz4: frame content size lied ({len(out)} != {content_size})"
            )
        parts.append(bytes(out))
    return b"".join(parts)


def compress_frame_literal(data: bytes, content_checksum: bool = True) -> bytes:
    """An independent-block frame of all-literal blocks — legal LZ4
    any consumer (incl. the reference CLI) decodes."""
    out = bytearray()
    out += struct.pack("<I", _MAGIC)
    flg = (0b01 << 6) | (1 << 5) | ((1 << 2) if content_checksum else 0)
    bd = 0x70  # 4 MiB max block size, comfortably above our chunks
    out.append(flg)
    out.append(bd)
    out.append((xxh32(bytes([flg, bd])) >> 8) & 0xFF)
    max_block = 1 << 22
    for at in range(0, len(data), max_block):
        chunk = data[at : at + max_block]
        block = compress_block_literal(chunk)
        if len(block) >= len(chunk) + 1:
            # store uncompressed (high bit) when literal framing inflates
            out += struct.pack("<I", len(chunk) | 0x80000000)
            out += chunk
        else:
            out += struct.pack("<I", len(block))
            out += block
    out += struct.pack("<I", 0)  # EndMark
    if content_checksum:
        out += struct.pack("<I", xxh32(data))
    return bytes(out)

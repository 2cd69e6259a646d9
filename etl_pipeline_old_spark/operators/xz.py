""".xz container walk (Tukaani xz file format, public spec) — the
BLOCK-level split story: ``xz -T0`` (how any large corpus actually gets
compressed) writes independent blocks and an INDEX of their sizes, so a
100 TB ingester seeks the footer, reads the tiny index, and range-reads
one block per task — the same discipline as the Wikipedia multistream
dump, for the other compressor the public-corpus world ships.

CPython's ``lzma`` handles whole streams but cannot seek blocks, so the
container layer is implemented here from the spec: stream header/footer
(CRC32-checked flags, the backward-size pointer to the index), block
headers (size byte, flags, filter flags with the LZMA2 dict-size
property), the index (7-bit varints of unpadded/uncompressed sizes),
and 4-byte padding rules.  Block PAYLOADS decode through ``lzma`` in
FORMAT_RAW with the FILTER_LZMA2 chain recovered from each block's own
header — the stdlib does the entropy coding, this module does the
container.  The reader accepts the shapes real encoders write: block
headers with or without the optional compressed/uncompressed size
fields (``xz -T0`` always writes them) and check types None, CRC32,
CRC64 (the ``xz`` default; ECMA-182 reflected, implemented below — not
in the stdlib), and SHA-256 — each verified against the decoded bytes.
The own writer emits either the byte-deterministic ``xz -C none`` shape
or the genuine ``xz -T0`` shape (size fields + CRC64), the latter
cross-validated by round-tripping the whole container through stdlib
``lzma.decompress`` (liblzma verifies every header CRC, size field,
block check, and the index hash).

Damage raises ValueError: bad magics, a CRC32 mismatch on any header,
an index disagreeing with the block walk, truncated blocks, a block
check or size field disagreeing with the decoded bytes, a block decoding
past its uncompressed-size field (or ``compression.MAX_OUTPUT``).
"""

from __future__ import annotations

import hashlib
import lzma
import struct
import zlib

from .bitio import read_uvarint, write_uvarint
from .compression import MAX_OUTPUT

_MAGIC = b"\xfd7zXZ\x00"
_FOOTER_MAGIC = b"YZ"
_CHECK_NONE = 0x00
_CHECK_CRC32 = 0x01
_CHECK_CRC64 = 0x04
_CHECK_SHA256 = 0x0A
# check-type id -> trailing check-field size after each block's
# compressed data (xz spec 2.1.1.2; ids between the supported ones are
# reserved/unused sizes this reader treats as unsupported)
_CHECK_SIZES = {_CHECK_NONE: 0, _CHECK_CRC32: 4, _CHECK_CRC64: 8,
                _CHECK_SHA256: 32}
_CHECK_IDS = {"none": _CHECK_NONE, "crc32": _CHECK_CRC32,
              "crc64": _CHECK_CRC64, "sha256": _CHECK_SHA256}

# CRC64/ECMA-182 in the reflected form the xz spec pins (poly
# 0xC96C5795D7870F42, init/xorout all-ones) — stdlib zlib has CRC32
# only, so the table is built here once.
_CRC64_POLY = 0xC96C5795D7870F42


def _crc64_table() -> list[int]:
    tbl = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ _CRC64_POLY if c & 1 else c >> 1
        tbl.append(c)
    return tbl


_CRC64_TBL = _crc64_table()


def crc64(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFFFFFFFFFF
    for b in data:
        crc = _CRC64_TBL[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFFFFFFFFFF


def _check_bytes(check: int, payload: bytes) -> bytes:
    if check == _CHECK_NONE:
        return b""
    if check == _CHECK_CRC32:
        return struct.pack("<I", zlib.crc32(payload))
    if check == _CHECK_CRC64:
        return struct.pack("<Q", crc64(payload))
    if check == _CHECK_SHA256:
        return hashlib.sha256(payload).digest()
    raise ValueError(f"xz: unsupported check type {check:#x}")


def _dict_size_prop(dict_size: int) -> int:
    """LZMA2 filter property byte for a dict size (spec: 2^(p/2+11)
    rounded up through the 2+bit pattern); we emit only exact powers
    of two, whose encoding is p = 2*(log2 - 12) + ... the spec's
    formula inverted for the sizes the writer uses."""
    if dict_size == 1 << 23:  # 8 MiB, the writer's fixed choice
        return 24
    raise ValueError("xz: writer supports the fixed 8 MiB dict only")


def _prop_dict_size(prop: int) -> int:
    if prop > 40:
        raise ValueError(f"xz: bad LZMA2 dict-size property {prop}")
    if prop == 40:
        return 0xFFFFFFFF
    return (2 | (prop & 1)) << (prop // 2 + 11)


def _block(
    payload: bytes, check: int = _CHECK_NONE, size_fields: bool = False
) -> tuple[bytes, int, int]:
    """One block with an LZMA2/8MiB filter chain: returns
    (bytes, unpadded_size, uncompressed_size).  ``size_fields`` writes
    the optional compressed/uncompressed size varints into the header
    (the shape ``xz -T0`` always emits); the check field (spec: part of
    the unpadded size) trails the compressed data."""
    comp = lzma.compress(
        payload,
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "dict_size": 1 << 23}],
    )
    # header: size byte, flags, [compressed size, uncompressed size,]
    # filter id 0x21 (LZMA2), props size 1, props byte, padding, CRC32
    bflags = 0xC0 if size_fields else 0x00
    body = bytes([bflags])
    if size_fields:
        body += write_uvarint(len(comp)) + write_uvarint(len(payload))
    body += write_uvarint(0x21) + write_uvarint(1)
    body += bytes([_dict_size_prop(1 << 23)])
    total = 1 + len(body) + 4  # size byte + body + crc
    padded = (total + 3) // 4 * 4
    body += b"\x00" * (padded - total)
    size_byte = padded // 4 - 1
    hdr = bytes([size_byte]) + body
    hdr += struct.pack("<I", zlib.crc32(hdr))
    # spec block layout: header, compressed data, PADDING, then check;
    # unpadded size counts header + data + check but not the padding
    data = hdr + comp
    cb = _check_bytes(check, payload)
    unpadded = len(data) + len(cb)
    block = data + b"\x00" * (-len(data) % 4) + cb
    return block, unpadded, len(payload)


def write_xz_blocks(
    payloads: list[bytes],
    truncate_blocks: set | None = None,
    check: str = "none",
    size_fields: bool = False,
) -> bytes:
    """A multi-block .xz: stream header, one independent block per
    payload, the index, stream footer.  ``check='none'`` (default) is
    the byte-deterministic ``xz -C none`` shape; ``check='crc64',
    size_fields=True`` is the genuine ``xz -T0`` default shape —
    stdlib ``lzma.decompress`` round-trips it, verifying every CRC,
    size field and the index (tests/test_xz_blocks.py).  Blocks whose
    ordinal is in ``truncate_blocks`` stage TORN — their compressed
    payload cut to 60% with the index recording the short size, the
    mid-upload damage shape."""
    check_id = _CHECK_IDS[check]
    flags = bytes([0x00, check_id])
    out = bytearray(_MAGIC + flags + struct.pack("<I", zlib.crc32(flags)))
    records = []
    for k, p in enumerate(payloads):
        block, unpadded, usize = _block(p, check_id, size_fields)
        if truncate_blocks and k in truncate_blocks:
            hdr_size = (block[0] + 1) * 4
            keep = hdr_size + max(2, int((unpadded - hdr_size) * 0.6))
            unpadded = keep
            block = block[:keep] + b"\x00" * (-keep % 4)
        out += block
        records.append((unpadded, usize))
    index = bytearray(b"\x00" + write_uvarint(len(records)))
    for unpadded, usize in records:
        index += write_uvarint(unpadded) + write_uvarint(usize)
    index += b"\x00" * (-len(index) % 4)
    index += struct.pack("<I", zlib.crc32(index))
    out += index
    backward = len(index) // 4 - 1
    footer_body = struct.pack("<I", backward) + flags
    out += struct.pack("<I", zlib.crc32(footer_body)) + footer_body
    out += _FOOTER_MAGIC
    return bytes(out)


def read_xz_index(footer_and_index: bytes, file_len: int) -> list[dict]:
    """Parse the stream footer (the LAST 12 bytes of ``footer_and_index``)
    and the index it points back to, returning per-block
    ``{'offset', 'compressed_len', 'uncompressed_len', 'check'}`` —
    offsets are absolute file positions, so a caller holding only the
    file TAIL can plan range reads; ``check`` is the stream's check-type
    id (from the footer's stream flags), which ``decode_xz_block`` needs
    to verify and strip each block's trailing check field.
    ``footer_and_index`` must contain at least ``backward_size + 12``
    trailing bytes of the file."""
    if len(footer_and_index) < 12:
        raise ValueError("xz: footer truncated")
    footer = footer_and_index[-12:]
    if footer[-2:] != _FOOTER_MAGIC:
        raise ValueError("xz: bad footer magic")
    crc = struct.unpack("<I", footer[:4])[0]
    if zlib.crc32(footer[4:10]) != crc:
        raise ValueError("xz: footer CRC mismatch")
    if footer[8] != 0x00 or footer[9] not in _CHECK_SIZES:
        raise ValueError(
            f"xz: unsupported stream flags {footer[8:10].hex()}"
        )
    check = footer[9]
    backward = struct.unpack("<I", footer[4:8])[0]
    index_size = (backward + 1) * 4
    if len(footer_and_index) < index_size + 12:
        raise ValueError("xz: tail does not cover the index")
    index = footer_and_index[-12 - index_size : -12]
    if zlib.crc32(index[:-4]) != struct.unpack("<I", index[-4:])[0]:
        raise ValueError("xz: index CRC mismatch")
    if index[0] != 0x00:
        raise ValueError("xz: bad index indicator")
    n, at = read_uvarint(index, 1)
    out = []
    pos = 12  # first block starts after the 12-byte stream header
    for _ in range(n):
        unpadded, at = read_uvarint(index, at)
        usize, at = read_uvarint(index, at)
        padded = (unpadded + 3) // 4 * 4
        out.append(
            {"offset": pos, "compressed_len": padded,
             "uncompressed_len": usize, "check": check}
        )
        pos += padded
    if pos + index_size + 12 != file_len:
        raise ValueError("xz: index disagrees with the file length")
    return out


def decode_xz_block(block: bytes, check: int = _CHECK_NONE) -> bytes:
    """Decode ONE block's bytes (header + compressed data [+ check]
    [+ padding]): the block header's own filter flags drive a
    FORMAT_RAW LZMA2 decode — no whole-stream state, which is exactly
    why blocks are the split points.  Accepts the shapes real encoders
    write: the optional compressed/uncompressed size fields (``xz -T0``
    always emits them; verified against the actual decode when present)
    and ``check`` from the stream flags (``read_xz_index``'s ``check``
    key) — CRC32/CRC64/SHA-256 are verified against the decoded bytes
    and a mismatch raises ValueError."""
    if not block:
        raise ValueError("xz: empty block")
    if check not in _CHECK_SIZES:
        raise ValueError(f"xz: unsupported check type {check:#x}")
    if block[0] == 0x00:
        raise ValueError("xz: index indicator where a block was expected")
    hdr_size = (block[0] + 1) * 4
    if hdr_size > len(block):
        raise ValueError("xz: block header runs past the block")
    hdr = block[:hdr_size]
    if zlib.crc32(hdr[:-4]) != struct.unpack("<I", hdr[-4:])[0]:
        raise ValueError("xz: block header CRC mismatch")
    flags = hdr[1]
    if flags & 0x3C:
        raise ValueError("xz: reserved block-flag bits set")
    if flags & 0x03:
        raise ValueError("xz: multi-filter blocks unsupported")
    at = 2
    comp_size = uncomp_size = None
    if flags & 0x40:
        comp_size, at = read_uvarint(hdr, at)
    if flags & 0x80:
        uncomp_size, at = read_uvarint(hdr, at)
    fid, at = read_uvarint(hdr, at)
    if fid != 0x21:
        raise ValueError(f"xz: filter 0x{fid:02x} is not LZMA2")
    psz, at = read_uvarint(hdr, at)
    if psz != 1:
        raise ValueError("xz: bad LZMA2 properties size")
    if at >= hdr_size - 4:
        raise ValueError("xz: block header filter flags truncated")
    dict_size = _prop_dict_size(hdr[at])
    # LZMA2 carries its own end marker, so a decompressor (not
    # one-shot decompress) tolerates the trailing check/padding bytes
    # and tells us exactly where the compressed data ended.
    dec = lzma.LZMADecompressor(
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "dict_size": dict_size}],
    )
    limit = MAX_OUTPUT if uncomp_size is None else min(uncomp_size, MAX_OUTPUT)
    try:
        out = dec.decompress(block[hdr_size:], max_length=limit + 1)
    except lzma.LZMAError as exc:
        raise ValueError(f"xz: block payload damaged ({exc})") from exc
    if len(out) > limit:
        raise ValueError(f"xz: block output exceeds {limit} bytes")
    if not dec.eof:
        raise ValueError("xz: block payload truncated")
    trailing = dec.unused_data
    consumed = len(block) - hdr_size - len(trailing)
    if comp_size is not None and comp_size != consumed:
        raise ValueError(
            f"xz: compressed-size field {comp_size} != actual {consumed}"
        )
    if uncomp_size is not None and uncomp_size != len(out):
        raise ValueError(
            f"xz: uncompressed-size field {uncomp_size} != "
            f"actual {len(out)}"
        )
    csz = _CHECK_SIZES[check]
    if csz:
        # spec layout: 0-3 null padding bytes between the compressed
        # data and the check field, which ends the block
        if len(trailing) < csz:
            raise ValueError("xz: block check field truncated")
        pad, cb = trailing[:-csz], trailing[-csz:]
        if len(pad) > 3 or pad.strip(b"\x00"):
            raise ValueError("xz: bad block padding before the check")
        if cb != _check_bytes(check, out):
            raise ValueError("xz: block check mismatch")
    return out

"""operators/compression.py: every codec round-trips and refuses
truncation and output over its limit, trailing bytes and concatenated
streams read as the stdlib one-shot calls read them, and the container
readers turn a corrupt payload or a decompression bomb into ValueError
without allocating the bomb."""

from __future__ import annotations

import bz2
import gzip
import lzma
import struct
import tracemalloc
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_pipeline_old_spark.operators import lz4, snappy, zstd
from etl_pipeline_old_spark.operators.avro import read_avro, write_avro
from etl_pipeline_old_spark.operators.bitio import (
    read_uvarint,
    write_uvarint,
    zigzag_encode,
)
from etl_pipeline_old_spark.operators.compression import (
    decompress,
    gunzip_member,
)
from etl_pipeline_old_spark.operators.multimodal import (
    decode_image_real,
    encode_png,
)
from etl_pipeline_old_spark.operators.ooxml import extract_docx_text, write_docx
from etl_pipeline_old_spark.operators.parquet_data import read_column_chunk
from etl_pipeline_old_spark.operators.pkzip import read_zip, write_zip


def _deflate(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


_COMPRESS = {
    "deflate": _deflate,
    "zlib": zlib.compress,
    "gzip": lambda data: gzip.compress(data, mtime=0),
    "bz2": bz2.compress,
    "xz": lzma.compress,
    "snappy": snappy.compress,
    "zstd": zstd.compress_raw_frame,
    "lz4_block": lz4.compress_block_literal,
}

# the one-shot stdlib call whose trailing-byte handling each codec keeps
_ONE_SHOT = {
    "deflate": lambda blob: zlib.decompress(blob, -zlib.MAX_WBITS),
    "zlib": zlib.decompress,
    "gzip": lambda blob: zlib.decompress(blob, 31),
    "bz2": bz2.decompress,
    "xz": lzma.decompress,
}
_STDLIB_ERRORS = (zlib.error, OSError, EOFError, ValueError, lzma.LZMAError)


@settings(max_examples=80, deadline=None)
@given(codec=st.sampled_from(sorted(_COMPRESS)), data=st.binary(max_size=3000))
def test_every_codec_round_trips(codec, data):
    assert decompress(codec, _COMPRESS[codec](data)) == data


@pytest.mark.parametrize("codec", sorted(_COMPRESS))
def test_output_over_the_limit_is_refused(codec):
    data = bytes(range(256)) * 8
    blob = _COMPRESS[codec](data)
    assert decompress(codec, blob, limit=len(data)) == data
    with pytest.raises(ValueError, match=f"{codec}: output exceeds"):
        decompress(codec, blob, limit=len(data) - 1)


@pytest.mark.parametrize("codec", sorted(_COMPRESS))
def test_truncated_streams_are_refused(codec):
    blob = _COMPRESS[codec](bytes(range(256)) * 8)
    for cut in (1, len(blob) // 2, len(blob) - 1):
        with pytest.raises(ValueError):
            decompress(codec, blob[:cut])


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_trailing_bytes_and_streams_match_the_one_shot_calls(data):
    codec = data.draw(st.sampled_from(sorted(_ONE_SHOT)))
    parts = data.draw(st.lists(st.binary(max_size=300), max_size=3))
    next_stream = _COMPRESS[codec](b"next")
    tail = data.draw(st.one_of(
        st.binary(max_size=24),
        st.just(b"\x00" * 4),
        st.builds(lambda n: next_stream[:n], st.integers(0, len(next_stream))),
    ))
    blob = b"".join(_COMPRESS[codec](p) for p in parts) + tail
    try:
        want = _ONE_SHOT[codec](blob)
    except _STDLIB_ERRORS:
        with pytest.raises(ValueError, match=codec):
            decompress(codec, blob)
    else:
        assert decompress(codec, blob) == want


def test_gunzip_member_stops_at_the_member_end():
    first, second = gzip.compress(b"one", mtime=0), gzip.compress(b"two", mtime=0)
    assert gunzip_member(first + second) == (b"one", len(first))
    with pytest.raises(ValueError, match="gzip"):
        gunzip_member(first[:-1])


# ------------------------------------------------ corrupt container payloads

def _break_member(blob: bytes, name: str) -> bytes:
    """``blob`` with the first byte of zip member ``name``'s deflate data
    set to 0xFF: a final block of the reserved type 3."""
    at = blob.index(b"PK\x03\x04")
    while blob[at + 30 : at + 30 + len(name)] != name.encode():
        at = blob.index(b"PK\x03\x04", at + 4)
    nlen, xlen = struct.unpack_from("<HH", blob, at + 26)
    out = bytearray(blob)
    out[at + 30 + nlen + xlen] = 0xFF
    return bytes(out)


def _broken_avro() -> bytes:
    schema = '{"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}'
    blob = write_avro([{"a": i} for i in range(50)], schema, codec="deflate")
    _, codec, _ = read_avro(blob)
    assert codec == "deflate"
    at = blob.index(blob[-16:]) + 16  # the sync marker ends the header
    for _ in range(2):  # the block's record count and byte size
        _, at = read_uvarint(blob, at)
    return blob[:at] + b"\xff" + blob[at + 1 :]


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(tag + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)


def _with_idat(png: bytes, idat: bytes) -> bytes:
    """``png`` with its one IDAT chunk's data replaced (CRC recomputed)."""
    at = png.index(b"IDAT") - 4
    (n,) = struct.unpack_from(">I", png, at)
    return png[:at] + _png_chunk(b"IDAT", idat) + png[at + 12 + n :]


def _broken_png() -> bytes:
    png = encode_png(list(range(16)), 4, 4, color_type=0)
    at = png.index(b"IDAT") + 4
    idat = png[at : at + struct.unpack_from(">I", png, at - 8)[0]]
    return _with_idat(png, idat[:2] + b"\xff" + idat[3:])


@pytest.mark.parametrize("build, read", [
    (lambda: _break_member(write_docx(["one paragraph"]), "word/document.xml"),
     extract_docx_text),
    (lambda: _break_member(
        write_zip([("a.txt", b"payload " * 64, "deflated")]), "a.txt"),
     read_zip),
    (_broken_avro, read_avro),
    (_broken_png, decode_image_real),
], ids=["docx", "zip", "avro_deflate", "png"])
def test_corrupt_payloads_raise_value_error(build, read):
    # quarantine kernels catch ValueError; a library error class escapes them
    with pytest.raises(ValueError):
        read(build())


# ---------------------------------------------------------------- bombs

def _zeros_compressed(wbits: int, mib: int = 64) -> bytes:
    co = zlib.compressobj(9, zlib.DEFLATED, wbits)
    chunk = bytes(1 << 20)
    return b"".join(co.compress(chunk) for _ in range(mib)) + co.flush()


def _png_bomb() -> bytes:
    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zeros_compressed(zlib.MAX_WBITS))
        + _png_chunk(b"IEND", b"")
    )


def _zip_bomb() -> bytes:
    """One deflated member whose central directory claims 10 bytes."""
    payload, name = _zeros_compressed(-zlib.MAX_WBITS), b"zeros.bin"
    sizes = struct.pack("<III", 0, len(payload), 10)  # crc, csize, usize
    local = b"PK\x03\x04" + struct.pack("<HHHHH", 20, 0, 8, 0, 0) + sizes
    local += struct.pack("<HH", len(name), 0) + name + payload
    central = b"PK\x01\x02" + struct.pack("<HHHHHH", 20, 20, 0, 8, 0, 0)
    central += sizes + struct.pack("<HHHHHII", len(name), 0, 0, 0, 0, 0, 0)
    central += name
    eocd = b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, 1, 1, len(central), len(local), 0
    )
    return local + central + eocd


def _parquet_page_bomb() -> bytes:
    """A GZIP data page whose header claims 10 uncompressed bytes."""
    payload = _zeros_compressed(31)
    header = bytearray()
    for value in (0, 10, len(payload)):  # page type, uncompressed, compressed
        header += b"\x15" + write_uvarint(zigzag_encode(value))  # next i32
    return bytes(header) + b"\x00" + payload


def _read_page(chunk: bytes):
    col = {"physical": "INT32", "codec": "GZIP", "num_values": 1}
    return read_column_chunk(chunk, col, {"physical": "INT32"})


@pytest.mark.parametrize("build, read", [
    (_png_bomb, decode_image_real),
    (_zip_bomb, read_zip),
    (_parquet_page_bomb, _read_page),
], ids=["png_idat", "zip_usize", "parquet_page"])
def test_bombs_are_refused_without_allocating(build, read):
    blob = build()  # 64 MiB of zeros in about 64 KiB
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            read(blob)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20, f"peak {peak} bytes while refusing the bomb"

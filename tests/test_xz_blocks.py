"""xz multi-block container (operators/xz.py): the whole staged stream
is CROSS-VALIDATED against the independent stdlib lzma decoder (the
strong pin none of the spec-only codecs get), per-block range decodes
match the index walk, and the damage classes are loud."""

from __future__ import annotations

import lzma
import random
import struct

import pytest

from etl_pipeline_old_spark.operators.xz import (
    decode_xz_block,
    read_xz_index,
    write_xz_blocks,
)

_RND = random.Random(20260816)


def test_container_cross_validates_against_stdlib():
    payloads = [
        b"alpha block " * 40,
        "блок два ".encode("utf-8") * 30,
        b"\x00" * 999,
        _RND.randbytes(5000),
        b"",
    ]
    blob = write_xz_blocks(payloads)
    # the INDEPENDENT implementation reads the own writer's container
    assert lzma.decompress(blob) == b"".join(payloads)
    idx = read_xz_index(blob[-4096:], len(blob))
    assert [r["uncompressed_len"] for r in idx] == [
        len(p) for p in payloads
    ]
    for rec, want in zip(idx, payloads):
        block = blob[rec["offset"] : rec["offset"] + rec["compressed_len"]]
        assert decode_xz_block(block) == want


def test_index_from_tail_only():
    payloads = [_RND.randbytes(2000) for _ in range(8)]
    blob = write_xz_blocks(payloads)
    # a 64-byte tail is plenty for 8 records — the 100 TB point
    tail = blob[-96:]
    idx = read_xz_index(tail, len(blob))
    assert len(idx) == 8
    assert decode_xz_block(
        blob[idx[5]["offset"] : idx[5]["offset"] + idx[5]["compressed_len"]]
    ) == payloads[5]


def test_torn_blocks_and_loud_damage():
    payloads = [b"block %d " % k * 50 for k in range(6)]
    blob = write_xz_blocks(payloads, truncate_blocks={2, 5})
    idx = read_xz_index(blob[-600:], len(blob))
    for k, rec in enumerate(idx):
        block = blob[rec["offset"] : rec["offset"] + rec["compressed_len"]]
        if k in (2, 5):
            with pytest.raises(ValueError, match="damaged|truncated"):
                decode_xz_block(block)
        else:
            assert decode_xz_block(block) == payloads[k]
    # footer magic lie
    with pytest.raises(ValueError, match="footer magic"):
        read_xz_index(blob[:-2] + b"ZZ", len(blob))
    # index CRC lie
    broken = bytearray(blob)
    broken[-20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        read_xz_index(bytes(broken[-600:]), len(broken))
    # block-header CRC lie
    good = write_xz_blocks([b"x" * 100])
    rec = read_xz_index(good[-200:], len(good))[0]
    b2 = bytearray(good)
    b2[rec["offset"] + 2] ^= 0x01
    with pytest.raises(ValueError, match="header CRC"):
        decode_xz_block(
            bytes(b2[rec["offset"] : rec["offset"] + rec["compressed_len"]])
        )
    # an index that disagrees with the file length
    with pytest.raises(ValueError, match="file length"):
        read_xz_index(good[-200:], len(good) + 4)


def test_xz_t0_shape_cross_validates_both_directions():
    """The genuine ``xz -T0`` default shape (size fields + CRC64): the
    own writer's container round-trips through stdlib lzma (which
    verifies every header CRC, size field, block check and the index
    hash), and the own reader range-decodes it block by block."""
    payloads = [b"doc %d " % i * (50 + i) for i in range(6)] + [b""]
    blob = write_xz_blocks(payloads, check="crc64", size_fields=True)
    assert lzma.decompress(blob) == b"".join(payloads)
    idx = read_xz_index(blob[-4096:], len(blob))
    assert all(r["check"] == 0x04 for r in idx)
    for rec, want in zip(idx, payloads):
        block = blob[rec["offset"] : rec["offset"] + rec["compressed_len"]]
        assert decode_xz_block(block, check=rec["check"]) == want


@pytest.mark.parametrize(
    "check", [lzma.CHECK_NONE, lzma.CHECK_CRC32, lzma.CHECK_CRC64,
              lzma.CHECK_SHA256]
)
def test_reads_stdlib_written_xz(check):
    """The reader accepts containers the INDEPENDENT encoder (stdlib
    liblzma) writes, across all four check types the spec defines."""
    data = b"The quick brown fox jumps over the lazy dog. " * 200
    blob = lzma.compress(data, format=lzma.FORMAT_XZ, check=check)
    idx = read_xz_index(blob, len(blob))
    assert len(idx) == 1
    rec = idx[0]
    block = blob[rec["offset"] : rec["offset"] + rec["compressed_len"]]
    assert decode_xz_block(block, check=rec["check"]) == data


def test_crc64_known_answer_vector():
    # CRC-64/XZ check value for b'123456789' (ECMA-182 reflected,
    # the catalogued standard vector)
    from etl_pipeline_old_spark.operators.xz import crc64

    assert crc64(b"123456789") == 0x995DC9BBDF1939FA
    assert crc64(b"") == 0


def test_t0_shape_damage_classes_loud():
    payloads = [b"z" * 500]
    blob = bytearray(
        write_xz_blocks(payloads, check="crc64", size_fields=True)
    )
    rec = read_xz_index(bytes(blob[-4096:]), len(blob))[0]
    lo, hi = rec["offset"], rec["offset"] + rec["compressed_len"]
    # flip a bit in the CRC64 check field (the last 8 bytes of the
    # block): header CRC still passes, the payload decodes, the check
    # catches it
    flipped = bytearray(blob)
    flipped[hi - 1] ^= 0xFF
    with pytest.raises(ValueError, match="check mismatch"):
        decode_xz_block(bytes(flipped[lo:hi]), check=rec["check"])
    # a lying compressed-size field: rewrite the varint and re-CRC the
    # header so ONLY the size lie remains
    hdr_size = (blob[lo] + 1) * 4
    hdr = bytearray(blob[lo : lo + hdr_size])
    assert hdr[1] & 0x40
    hdr[2] ^= 0x01  # first byte of the compressed-size varint
    hdr[-4:] = struct.pack("<I", __import__("zlib").crc32(bytes(hdr[:-4])))
    with pytest.raises(ValueError, match="compressed-size"):
        decode_xz_block(bytes(hdr) + bytes(blob[lo + hdr_size : hi]),
                        check=rec["check"])
    # truncated torn block in the -T0 shape
    torn = write_xz_blocks(payloads, truncate_blocks={0},
                           check="crc64", size_fields=True)
    trec = read_xz_index(torn[-4096:], len(torn))[0]
    with pytest.raises(ValueError, match="damaged|truncated"):
        decode_xz_block(
            torn[trec["offset"] : trec["offset"] + trec["compressed_len"]],
            check=trec["check"],
        )


def test_varints_roundtrip():
    from etl_pipeline_old_spark.operators.bitio import read_uvarint, write_uvarint

    for n in (0, 1, 127, 128, 300, 2 ** 20, 2 ** 35):
        enc = write_uvarint(n)
        got, at = read_uvarint(enc, 0)
        assert (got, at) == (n, len(enc))
    with pytest.raises(ValueError, match="varint"):
        read_uvarint(b"\xff\xff", 0)

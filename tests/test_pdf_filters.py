"""Legacy PDF stream filters (operators/pdf_filters.py): the spec's own
published LZW example as the independent conformance pin, width-boundary
and table-reset roundtrips at both EarlyChange settings, the three ASCII
codings' edge shapes, and the loud damage classes."""

from __future__ import annotations

import random

import pytest

from etl_pipeline_old_spark.operators.pdf_filters import (
    ascii85_decode,
    ascii85_encode,
    ascii_hex_decode,
    ascii_hex_encode,
    lzw_decode,
    lzw_encode,
    rle_decode,
    rle_encode,
)

_RND = random.Random(20260816)


def test_lzw_spec_published_example():
    """ISO 32000-1 §7.4.4.2's own vector: the one pin no shared
    encoder/decoder bug can satisfy."""
    src = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    wire = bytes.fromhex("800b6050220c0c8501")
    assert lzw_encode(src) == wire
    assert lzw_decode(wire) == src


@pytest.mark.parametrize("early", [0, 1])
@pytest.mark.parametrize("n", [0, 1, 7, 300, 1500, 5000, 40000])
def test_lzw_roundtrips_across_width_boundaries(early, n):
    data = bytes(_RND.choice(b"abcd\x00\xff") for _ in range(n))
    assert lzw_decode(lzw_encode(data, early), early) == data
    blob = _RND.randbytes(n)
    assert lzw_decode(lzw_encode(blob, early), early) == blob


def test_lzw_loud_damage():
    wire = lzw_encode(b"payload " * 200)
    with pytest.raises(ValueError, match="exhausted|beyond"):
        lzw_decode(wire[: len(wire) // 3])
    # a first code that is not a literal
    from etl_pipeline_old_spark.operators.bitio import MsbWriter
    bw = MsbWriter()
    bw.write(256, 9)
    bw.write(300, 9)
    with pytest.raises(ValueError, match="not a literal"):
        lzw_decode(bw.getvalue())


def test_ascii_codings_edges_and_damage():
    for n in (0, 1, 4, 5, 100):
        d = _RND.randbytes(n)
        assert ascii_hex_decode(ascii_hex_encode(d)) == d
        assert ascii85_decode(ascii85_encode(d)) == d
    assert ascii85_encode(b"\x00" * 4) == b"z~>"
    assert ascii85_decode(b"z \n z~>") == b"\x00" * 8
    assert ascii_hex_decode(b"41 4\n2>") == b"AB"
    assert ascii_hex_decode(b"414>") == b"A\x40"  # odd digit: low nibble 0
    with pytest.raises(ValueError, match="invalid"):
        ascii_hex_decode(b"4G>")
    with pytest.raises(ValueError, match="EOD"):
        ascii_hex_decode(b"4142")
    with pytest.raises(ValueError, match="overflows"):
        ascii85_decode(b"uuuuu~>")
    with pytest.raises(ValueError, match="'z' inside"):
        ascii85_decode(b"!z~>")
    with pytest.raises(ValueError, match="lone trailing"):
        ascii85_decode(b"zz!~>")


def test_rle_edges_and_damage():
    for n in (0, 1, 5, 127, 128, 129, 1000):
        d = _RND.randbytes(n)
        assert rle_decode(rle_encode(d)) == d
        rep = b"A" * n + d[:3]
        assert rle_decode(rle_encode(rep)) == rep
    with pytest.raises(ValueError, match="EOD"):
        rle_decode(b"\x03abcd")
    with pytest.raises(ValueError, match="truncated"):
        rle_decode(b"\x05ab")


def test_pdf_integration_all_codings_and_chain():
    from etl_pipeline_old_spark.operators.pdf import (
        extract_pdf_text,
        write_pdf,
    )

    pages = [["Hello legacy filters", "строка два"], ["page two"]]
    for coding in ("lzw", "rl", "ahx", "a85", "a85+lzw"):
        blob = write_pdf(pages, compress=coding)
        assert extract_pdf_text(blob) == pages, coding
    chained = write_pdf(pages, compress="a85+lzw")
    assert b"[/ASCII85Decode /LZWDecode]" in chained
    # the PARALLEL /DecodeParms array (ISO 32000-1 7.3.8.2): filter i's
    # parms live at index i — [null << /EarlyChange 0 >>] must hand the
    # EarlyChange dict to /LZWDecode, not the null meant for ASCII85
    # (a parms[0] reader decodes garbage here; r13 ADVICE)
    par = write_pdf(pages, compress="a85+lzw0")
    assert b"/DecodeParms [null << /EarlyChange 0 >>]" in par
    assert extract_pdf_text(par) == pages
    # torn LZW content stream is loud through the extractor
    torn = bytearray(write_pdf(pages, compress="lzw"))
    at = torn.find(b"stream\n") + 7
    torn[at + 3 : at + 9] = b"\xff\xff\xff\xff\xff\xff"
    with pytest.raises(ValueError):
        extract_pdf_text(bytes(torn))

"""operators/bitio.py: every writer/reader pair round-trips random
``(value, width)`` sequences and refuses every truncated prefix, zigzag
follows the spec table for any int, and the varint sites that decode
untrusted pages stop at their byte cap instead of walking the buffer."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_pipeline_old_spark.operators import orc, parquet_data
from etl_pipeline_old_spark.operators.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    read_uvarint,
    write_uvarint,
    zigzag_decode,
    zigzag_encode,
)


def _signed(value: int, width: int) -> int:
    """``value`` as a ``width``-bit two's-complement integer."""
    return value - (1 << width) if width and value >> (width - 1) else value


def _bit_stream(writer, reader):
    def encode(items):
        w = writer()
        ends, total = [], 0
        for value, width in items:
            w.write(value, width)
            total += width
            ends.append((total + 7) >> 3)
        assert w.tell() == total
        return w.getvalue(), ends

    def decode(data, items):
        r = reader(data)
        for _value, width in items:
            yield r.read(width)

    return encode, decode, lambda value, width: value


def _varint_stream():
    def encode(items):
        out, ends = b"", []
        for value, width in items:
            out += write_uvarint(zigzag_encode(_signed(value, width)))
            ends.append(len(out))
        return out, ends

    def decode(data, items):
        pos = 0
        for _ in items:
            z, pos = read_uvarint(data, pos)
            yield zigzag_decode(z)

    return encode, decode, _signed


_CASES = {
    "msb": _bit_stream(MsbWriter, MsbReader),
    "lsb": _bit_stream(LsbWriter, LsbReader),
    "zigzag_uvarint": _varint_stream(),
}

_ITEMS = st.lists(
    st.integers(0, 64).flatmap(
        lambda w: st.tuples(st.integers(0, (1 << w) - 1), st.just(w))
    ),
    max_size=40,
)


@pytest.mark.parametrize("case", sorted(_CASES))
@settings(max_examples=60, deadline=None)
@given(items=_ITEMS)
def test_round_trip_and_every_truncated_prefix_raises(case, items):
    encode, decode, expect = _CASES[case]
    data, ends = encode(items)
    want = [expect(value, width) for value, width in items]
    assert list(decode(data, items)) == want
    for cut in range(len(data)):
        got = []
        with pytest.raises(ValueError):
            for value in decode(data[:cut], items):
                got.append(value)
        # the reads that fit in the prefix are exact; the first that needs
        # a missing byte raises instead of returning a value
        assert got == want[: sum(1 for end in ends if end <= cut)]


def test_zigzag_spec_table_and_int64_edges():
    # the protobuf encoding spec's published zigzag table
    assert [zigzag_encode(n) for n in (0, -1, 1, -2, 2, -3, 3)] == list(range(7))
    assert zigzag_encode(2**31 - 1) == 2**32 - 2
    assert zigzag_encode(-(2**31)) == 2**32 - 1
    assert zigzag_encode(2**63 - 1) == 2**64 - 2
    assert zigzag_encode(-(2**63)) == 2**64 - 1
    assert zigzag_encode(2**63) == 2**64
    assert zigzag_encode(-(2**63) - 1) == 2**64 + 1
    for n in (0, -1, 1, 2**63 - 1, -(2**63), 2**63, -(2**63) - 1, 10**40, -(10**40)):
        assert zigzag_decode(zigzag_encode(n)) == n


def test_varint_cap_and_truncation_messages():
    assert read_uvarint(b"\xff" * 9 + b"\x01", 0) == (2**64 - 1, 10)
    with pytest.raises(ValueError, match="varint longer than 10 bytes"):
        read_uvarint(b"\xff" * 10 + b"\x01", 0)
    with pytest.raises(ValueError, match="varint longer than 5 bytes"):
        read_uvarint(b"\x80" * 5 + b"\x01", 0, max_bytes=5)
    with pytest.raises(ValueError, match="truncated varint"):
        read_uvarint(b"\x80\x80", 0)
    with pytest.raises(ValueError):
        write_uvarint(-1)


def _orc_decimal_stripe(data: bytes):
    """A one-row stripe whose one DECIMAL column's DATA stream is ``data``."""

    def uint_field(num: int, value: int) -> bytes:
        return write_uvarint(num << 3) + write_uvarint(value)

    stream = uint_field(1, orc.SK_DATA) + uint_field(2, 1) + uint_field(3, len(data))
    footer = write_uvarint(1 << 3 | 2) + write_uvarint(len(stream)) + stream
    stripe = {
        "index_length": 0,
        "data_length": len(data),
        "footer_length": len(footer),
        "num_rows": 1,
    }
    schema = [
        {"kind": "STRUCT", "field_names": ["d"], "subtypes": [1]},
        {"kind": "DECIMAL", "precision": 38, "scale": 2},
    ]
    return data + footer, stripe, schema


_HOSTILE = b"\xff" * 65536

_HOSTILE_SITES = {
    "parquet_delta_header": lambda: parquet_data._delta_binary_packed(
        _HOSTILE, 0, bits32=False
    ),
    "parquet_hybrid_run_header": lambda: parquet_data._read_hybrid(_HOSTILE, 0, 1, 1),
    "orc_decimal": lambda: orc.read_stripe_columns(
        *_orc_decimal_stripe(_HOSTILE), "NONE"
    ),
}


@pytest.mark.parametrize("site", sorted(_HOSTILE_SITES))
def test_hostile_varint_runs_stop_at_the_byte_cap(site):
    # a run of continuation bytes is refused after the cap, not walked to
    # the end of the page with an ever-wider shift
    with pytest.raises(ValueError, match="varint longer than"):
        _HOSTILE_SITES[site]()

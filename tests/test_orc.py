"""ORC codec (operators/orc.py + protobuf_wire.py): cross-validation
against the independent Apache ORC C++ writer/reader (pyarrow.orc) —
value-level equality on shapes that drive all four RLEv2 sub-encodings,
dictionary/direct strings, nulls, dates, zlib chunking, multi-stripe
files — plus damage classes and the loud unsupported seams."""

from __future__ import annotations

import datetime
import os
import random

import pyarrow as pa
import pyarrow.orc as paorc
import pytest

from etl_pipeline_old_spark.operators import orc as myorc
from etl_pipeline_old_spark.operators import protobuf_wire as pw
from etl_pipeline_old_spark.operators.bitio import zigzag_decode

_RNG = random.Random(7)
_N = 5000


def _roundtrip(tmp_path, table, **kw):
    p = str(tmp_path / "t.orc")
    paorc.write_table(table, p, **kw)
    blob = open(p, "rb").read()
    tail, cols = myorc.read_orc(blob)
    back = paorc.read_table(p)
    for name in table.column_names:
        expect = back.column(name).to_pylist()
        if expect and isinstance(
            next((e for e in expect if e is not None), None), datetime.date
        ):
            expect = [e.isoformat() if e is not None else None for e in expect]
        assert cols[name] == expect, name
    assert tail["num_rows"] == table.num_rows
    return blob, tail


def _first_run_encodings(path: str) -> set[int]:
    """Top-2-bit sub-encoding tag of each DATA stream's first run."""
    blob = open(path, "rb").read()
    tail = myorc.read_file_tail(blob)
    comp = tail["postscript"]["compression"]
    kinds: set[int] = set()
    for s in tail["stripes"]:
        start = s["offset"]
        region = blob[
            start : start + s["index_length"] + s["data_length"] + s["footer_length"]
        ]
        sf = pw.parse_message(
            myorc._decompress(
                region[s["index_length"] + s["data_length"] :], comp
            )
        )
        pos = 0
        for st in pw.get_messages(sf, 1):
            kind, ln = pw.get_uint(st, 1, 0), pw.get_uint(st, 3, 0)
            if kind == myorc.SK_DATA:
                data = myorc._decompress(region[pos : pos + ln], comp)
                if data:
                    kinds.add(data[0] >> 6)
            pos += ln
    return kinds


def test_basic_types_uncompressed(tmp_path):
    _roundtrip(
        tmp_path,
        pa.table(
            {
                "a": pa.array(range(_N), pa.int64()),
                "txt": pa.array([f"doc {i} body π≠ascii" for i in range(_N)]),
                "d": pa.array([i / 7 for i in range(_N)], pa.float64()),
                "f": pa.array([i / 3 for i in range(_N)], pa.float32()),
                "b": pa.array([i % 3 == 0 for i in range(_N)]),
                "by": pa.array([(i % 256) - 128 for i in range(_N)], pa.int8()),
            }
        ),
        compression="uncompressed",
    )


def test_all_four_rlev2_subencodings_zlib(tmp_path):
    """Each column's value shape forces a distinct RLEv2 sub-encoding in
    the C++ writer (asserted on the wire, not assumed) — and every value
    still round-trips exactly."""
    table = pa.table(
        {
            "direct": pa.array(
                [_RNG.randrange(-(10**12), 10**12) for _ in range(_N)], pa.int64()
            ),
            "patched": pa.array(
                [
                    _RNG.randrange(0, 100) if i % 50 else 10**15
                    for i in range(_N)
                ],
                pa.int64(),
            ),
            "delta": pa.array(range(0, 3 * _N, 3), pa.int64()),
            "short_rep": pa.array(
                sum([[v] * 5 for v in range(_N // 5)], []), pa.int64()
            ),
        }
    )
    p = str(tmp_path / "enc.orc")
    paorc.write_table(table, p, compression="uncompressed")
    assert _first_run_encodings(p) == {0, 1, 2, 3}
    _roundtrip(tmp_path, table, compression="zlib")


def test_nulls_dictionary_and_dates(tmp_path):
    _roundtrip(
        tmp_path,
        pa.table(
            {
                "s": pa.array(
                    [
                        None if i % 7 == 0 else ["alpha", "beta", "gamma"][i % 3]
                        for i in range(_N)
                    ]
                ),
                "v": pa.array(
                    [None if i % 11 == 0 else i * 3 for i in range(_N)], pa.int64()
                ),
                "dt": pa.array(
                    [
                        datetime.date(2020, 1, 1) + datetime.timedelta(days=i % 1000)
                        for i in range(_N)
                    ]
                ),
                "bin": pa.array(
                    [bytes([i % 256, 0, 255]) for i in range(_N)], pa.binary()
                ),
            }
        ),
        compression="zlib",
    )


def test_multi_stripe_and_stripe_range_read(tmp_path):
    n = 300000
    table = pa.table(
        {
            "x": pa.array(range(n), pa.int64()),
            "y": pa.array([f"text payload {i} " * 3 for i in range(n)]),
        }
    )
    blob, tail = _roundtrip(
        tmp_path, table, compression="uncompressed", stripe_size=1 * 1024 * 1024
    )
    assert len(tail["stripes"]) > 1
    # a single stripe decodes from ITS byte range alone (the range-read unit)
    s = tail["stripes"][1]
    start = s["offset"]
    end = start + s["index_length"] + s["data_length"] + s["footer_length"]
    cols = myorc.read_stripe_columns(
        blob[start:end], s, tail["schema"], tail["postscript"]["compression"]
    )
    first = tail["stripes"][0]["num_rows"]
    assert cols["x"] == list(range(first, first + s["num_rows"]))


def test_footer_column_stats_match_data(tmp_path):
    table = pa.table(
        {
            "i": pa.array([3, -9, 40, None, 7], pa.int64()),
            "s": pa.array(["bb", "aa", None, "zz", "mm"]),
            "b": pa.array([True, False, True, True, None]),
        }
    )
    p = str(tmp_path / "st.orc")
    paorc.write_table(table, p, compression="uncompressed")
    tail = myorc.read_file_tail(open(p, "rb").read())
    root, i_st, s_st, b_st = tail["column_stats"][:4]
    assert root["num_values"] == 5
    assert (i_st["num_values"], i_st["min"], i_st["max"], i_st["sum"]) == (4, -9, 40, 41)
    assert i_st["has_null"] and s_st["has_null"] and b_st["has_null"]
    assert (s_st["num_values"], s_st["min"], s_st["max"], s_st["sum"]) == (4, "aa", "zz", 8)
    assert (b_st["num_values"], b_st["sum"]) == (4, 3)


def _intact(tmp_path) -> bytes:
    p = str(tmp_path / "ok.orc")
    paorc.write_table(
        pa.table({"x": pa.array(range(50), pa.int64())}), p, compression="zlib"
    )
    return open(p, "rb").read()


def test_damage_classes_are_loud(tmp_path):
    blob = _intact(tmp_path)
    myorc.read_orc(blob)  # intact parses
    with pytest.raises(ValueError, match="minimal ORC tail"):
        myorc.read_orc(blob[:3])
    with pytest.raises(ValueError, match="magic"):
        # scribble the postscript's trailing magic bytes
        myorc.read_orc(blob[:-4] + b"XXX" + blob[-1:])
    with pytest.raises(ValueError):
        myorc.read_orc(blob[: len(blob) * 3 // 5])  # footer gone
    with pytest.raises(ValueError):
        # postscript length beyond file
        myorc.read_orc(blob[:-1] + bytes([250]))


def test_unsupported_compression_is_loud():
    # LZO is the remaining genuinely-absent codec (nothing in-container
    # writes it, its spec is GPL-entangled); the region decoder must
    # refuse it loudly
    with pytest.raises(NotImplementedError, match="LZO"):
        myorc._decompress(b"\x06\x00\x00abc", "LZO")


def test_lz4_compressed_orc_decodes(tmp_path):
    """ORC LZ4 regions decode through the own lz4 block codec — real
    C++ writer output, value-exact."""
    table = pa.table(
        {
            "x": pa.array(range(_N), pa.int64()),
            "t": pa.array([f"the quick brown fox {i % 37} " * 4 for i in range(_N)]),
        }
    )
    _roundtrip(tmp_path, table, compression="lz4")


def test_zstd_compressed_orc_decodes(tmp_path):
    """The r14b own RFC 8878 codec closed the former ZSTD seam: real
    libzstd-compressed ORC (pyarrow/C++ writer) through the own stack,
    value-exact."""
    table = pa.table(
        {
            "x": pa.array(range(_N), pa.int64()),
            "t": pa.array([f"the quick brown fox {i % 37} " * 4 for i in range(_N)]),
        }
    )
    _roundtrip(tmp_path, table, compression="zstd")


def test_snappy_compressed_orc_roundtrips(tmp_path):
    """SNAPPY shards decode through the own snappy codec — real C++
    compressor output, value-exact."""
    table = pa.table(
        {
            "x": pa.array(range(_N), pa.int64()),
            "t": pa.array([f"the quick brown fox {i % 37} " * 4 for i in range(_N)]),
        }
    )
    _roundtrip(tmp_path, table, compression="snappy")


def test_unsupported_type_is_loud(tmp_path):
    # MAP stays the loud class (TIMESTAMP/DECIMAL/LIST decode as of
    # r14b)
    p = str(tmp_path / "map.orc")
    paorc.write_table(
        pa.table(
            {"t": pa.array([{"k": 1}, {"j": 2}], pa.map_(pa.string(), pa.int64()))}
        ),
        p,
        compression="uncompressed",
    )
    with pytest.raises(NotImplementedError, match="MAP"):
        myorc.read_orc(open(p, "rb").read())


def test_list_columns_cross_validated(tmp_path):
    """One-level LIST via the LENGTH stream + child-column recursion:
    null lists, empty lists, null elements, string/int/float children."""
    lists = [None, [], [1.5], [None, 2.5, None], [float(i) for i in range(20)]] * 300
    ilists = [
        None if i % 11 == 0 else ([] if i % 7 == 0 else list(range(i % 5)))
        for i in range(1500)
    ]
    slists = [None, ["a", "bb"], [], ["ccc", None], ["dd"]] * 300
    t = pa.table(
        {
            "x": pa.array(range(1500), pa.int64()),
            "fv": pa.array(lists, pa.list_(pa.float64())),
            "iv": pa.array(ilists, pa.list_(pa.int64())),
            "sv": pa.array(slists, pa.list_(pa.string())),
        }
    )
    for comp in ("zlib", "zstd"):
        p = str(tmp_path / f"{comp}.orc")
        paorc.write_table(t, p, compression=comp)
        _tail, cols = myorc.read_orc(open(p, "rb").read())
        back = paorc.read_table(p)
        for c in t.column_names:
            assert cols[c] == back[c].to_pylist(), (comp, c)


def test_protobuf_wire_primitives():
    # 08 96 01 → field 1 varint 150 (the spec's own worked example)
    msg = pw.parse_message(bytes.fromhex("089601"))
    assert pw.get_uint(msg, 1) == 150
    assert zigzag_decode(0) == 0 and zigzag_decode(1) == -1 and zigzag_decode(2) == 1
    with pytest.raises(ValueError, match="truncated varint"):
        pw.parse_message(b"\x08\x96")
    with pytest.raises(ValueError, match="wire type"):
        pw.parse_message(b"\x0b")  # deprecated group
    with pytest.raises(ValueError, match="runs past"):
        pw.parse_message(b"\x12\x05ab")


def test_rlev2_short_repeat_spec_example():
    """The ORC spec's own published example: [10000, 10000, 10000, 10000,
    10000] encodes as 0x0a 0x27 0x10 (unsigned short repeat)."""
    assert myorc.decode_rlev2(bytes([0x0A, 0x27, 0x10]), False) == [10000] * 5


def test_rlev2_direct_spec_example():
    """Spec example: [23713, 43806, 57005, 48879] → 5e 03 5c a1 ab 1e de ad
    be ef."""
    assert myorc.decode_rlev2(
        bytes.fromhex("5e035ca1ab1edeadbeef"), False
    ) == [23713, 43806, 57005, 48879]


def test_rlev2_delta_spec_example():
    """Spec example: [2, 3, 5, 7, 11, 13, 17, 19, 23, 29] → c6 09 02 02 22
    42 42 46."""
    assert myorc.decode_rlev2(
        bytes.fromhex("c609020222424246"), False
    ) == [2, 3, 5, 7, 11, 13, 17, 19, 23, 29]


# PATCHED_BASE carries no faithfully-transcribable worked example here
# (its published bytes are too long to recall honestly) — that
# sub-encoding is pinned by test_all_four_rlev2_subencodings_zlib, which
# asserts ON THE WIRE that the C++ writer chose it and then demands
# value-exact recovery.


def test_timestamp_and_decimal_cross_validated(tmp_path):
    """TIMESTAMP (incl. pre-1970 negative-nanos truncation forms) and
    DECIMAL decode vs the independent C++ writer/reader pair."""
    import datetime
    import decimal

    ts = [
        datetime.datetime(2026, 8, 16, 12, 34, 56, 789123),
        datetime.datetime(1999, 12, 31, 23, 59, 59),
        datetime.datetime(2015, 1, 1, 0, 0, 0),
        datetime.datetime(1969, 7, 20, 20, 17, 40, 500000),
        datetime.datetime(2014, 12, 31, 23, 59, 59, 999999),
        None,
        datetime.datetime(1955, 11, 5, 6, 15, 0, 123456),
        datetime.datetime(1970, 1, 1, 0, 0, 0, 1),
    ] * 150
    dec = [
        decimal.Decimal("123.45"),
        decimal.Decimal("-0.01"),
        decimal.Decimal("0.00"),
        decimal.Decimal("99999999.99"),
        None,
        decimal.Decimal("-12345678.90"),
        decimal.Decimal("0.07"),
        decimal.Decimal("-99999999.99"),
    ] * 150
    t = pa.table(
        {
            "ts": pa.array(ts, pa.timestamp("us")),
            "dec": pa.array(dec, pa.decimal128(10, 2)),
        }
    )
    p = str(tmp_path / "td.orc")
    paorc.write_table(t, p, compression="zlib")
    _tail, cols = myorc.read_orc(open(p, "rb").read())
    back = paorc.read_table(p)

    def iso(v):
        if v is None:
            return None
        s = v.isoformat(sep=" ")
        return s.rstrip("0").rstrip(".") if "." in s else s

    assert cols["ts"] == [iso(v) for v in back["ts"].to_pylist()]
    got = [None if v is None else decimal.Decimal(v) for v in cols["dec"]]
    assert got == back["dec"].to_pylist()

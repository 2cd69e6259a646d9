"""Avro codec (operators/avro.py): zigzag/container semantics, loud
failures, and BOTH-direction cross-validation against the independent
org.apache.avro Java implementation on Spark's classpath (via py4j) —
the same discipline as the JPEG/javax.imageio and AES/javax.crypto
pins."""

from __future__ import annotations

import io
import json
import os

import pytest

from etl_pipeline_old_spark.operators.avro import (
    read_avro, read_long, write_avro, write_long,
)

_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": "string"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "score", "type": ["null", "double"]},
            {"name": "ok", "type": "boolean"},
        ],
    }
)
_RECS = [
    {"doc_id": -5, "text": "Привет", "tags": ["a", "b"], "score": None,
     "ok": True},
    {"doc_id": 2 ** 40, "text": "", "tags": [], "score": 1.5, "ok": False},
    {"doc_id": 0, "text": "x" * 300, "tags": ["only"], "score": -2.25,
     "ok": True},
]


def test_zigzag_varints():
    # spec examples: 0->0, -1->1, 1->2, -2->3, 2->4
    for value, encoded in ((0, b"\x00"), (-1, b"\x01"), (1, b"\x02"),
                           (-2, b"\x03"), (2, b"\x04"), (64, b"\x80\x01")):
        out = bytearray()
        write_long(out, value)
        assert bytes(out) == encoded, value
        assert read_long(io.BytesIO(encoded)) == value
    for v in (-(2 ** 63), 2 ** 63 - 1, 12345678901234):
        out = bytearray()
        write_long(out, v)
        assert read_long(io.BytesIO(bytes(out))) == v


def test_long_outside_int64_is_refused_not_wrapped():
    for v in (2 ** 63, -(2 ** 63) - 1, 2 ** 64):
        with pytest.raises(ValueError, match="does not fit a long"):
            write_long(bytearray(), v)


@pytest.mark.parametrize("codec", ["null", "deflate", "zstandard", "bzip2", "xz"])
def test_container_roundtrip(codec):
    blob = write_avro(_RECS, _SCHEMA, codec=codec)
    schema, got_codec, back = read_avro(blob)
    assert got_codec == codec
    assert json.loads(schema) == json.loads(_SCHEMA)
    assert back == _RECS


def test_multi_block_roundtrip():
    recs = [
        {"doc_id": i, "text": f"t{i}", "tags": [], "score": None,
         "ok": i % 2 == 0}
        for i in range(25)
    ]
    blob = write_avro(recs, _SCHEMA, block_records=7)
    _s, _c, back = read_avro(blob)
    assert back == recs


def test_loud_failures():
    with pytest.raises(ValueError, match="magic"):
        read_avro(b"nope")
    blob = bytearray(write_avro(_RECS, _SCHEMA))
    blob[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync marker"):
        read_avro(bytes(blob))
    with pytest.raises(ValueError, match="union branch"):
        # score union index forced out of range: encode then corrupt
        good = write_avro(
            [{"doc_id": 1, "text": "", "tags": [], "score": None,
              "ok": True}], _SCHEMA)
        # the union index byte is the zigzag 0 right after tags' 0 count
        bad = good.replace(b"\x00\x00\x00\x01", b"\x00\x00\x08\x01", 1)
        read_avro(bad)


def _jset(spark, tmpdir):
    jvm = spark.sparkContext._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(_SCHEMA)
    return jvm, schema


def test_java_avro_reads_our_files(spark, tmp_path):
    """Files our writer produces must open in org.apache.avro."""
    jvm, schema = _jset(spark, tmp_path)
    for codec in ("null", "deflate"):
        path = os.path.join(str(tmp_path), f"ours_{codec}.avro")
        with open(path, "wb") as fh:
            fh.write(write_avro(_RECS, _SCHEMA, codec=codec))
        reader = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path), reader
        )
        got = []
        while dfr.hasNext():
            r = dfr.next()
            tags = [str(x) for x in r.get("tags")]
            score = r.get("score")
            got.append(
                {
                    "doc_id": r.get("doc_id"),
                    "text": str(r.get("text")),
                    "tags": tags,
                    "score": float(score) if score is not None else None,
                    "ok": bool(r.get("ok")),
                }
            )
        dfr.close()
        assert got == _RECS, codec


def test_we_read_java_avro_files(spark, tmp_path):
    """Files org.apache.avro writes must open in our reader."""
    jvm, schema = _jset(spark, tmp_path)
    for codec in ("null", "deflate"):
        path = os.path.join(str(tmp_path), f"java_{codec}.avro")
        writer = jvm.org.apache.avro.generic.GenericDatumWriter(schema)
        dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
        if codec == "deflate":
            dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(9))
        dfw.create(schema, jvm.java.io.File(path))
        for rec in _RECS:
            jr = jvm.org.apache.avro.generic.GenericData.Record(schema)
            jr.put("doc_id", rec["doc_id"])
            jr.put("text", rec["text"])
            jtags = jvm.java.util.ArrayList()
            for t in rec["tags"]:
                jtags.add(t)
            jr.put("tags", jtags)
            jr.put("score", rec["score"])
            jr.put("ok", rec["ok"])
            dfw.append(jr)
        dfw.close()
        with open(path, "rb") as fh:
            _s, got_codec, back = read_avro(fh.read())
        assert got_codec == codec
        assert back == _RECS, codec


# ------------------------------------------------------------- snappy
def test_snappy_cross_validation_with_copies(spark):
    """Own decoder must read snappy-java output (which emits real COPY
    elements incl. overlapping runs on repetitive data), and snappy-java
    must read our all-literal output."""
    import hashlib

    from etl_pipeline_old_spark.operators.avro import (
        snappy_compress, snappy_decompress,
    )

    S = spark.sparkContext._jvm.org.xerial.snappy.Snappy
    for i in range(12):
        data = hashlib.sha256(str(i).encode()).digest()[: 5 + i] * (
            50 * i + 10
        )
        jc = bytes(S.compress(bytearray(data)))
        assert snappy_decompress(jc) == data
        assert bytes(S.uncompress(bytearray(snappy_compress(data)))) == data


def test_avro_snappy_codec_roundtrip_and_java_interop(spark, tmp_path):
    from etl_pipeline_old_spark.operators.avro import write_avro

    blob = write_avro(_RECS, _SCHEMA, codec="snappy")
    _s, codec, back = read_avro(blob)
    assert codec == "snappy" and back == _RECS
    # the independent Java Avro reader must accept our snappy container
    path = os.path.join(str(tmp_path), "ours_snappy.avro")
    with open(path, "wb") as fh:
        fh.write(blob)
    jvm = spark.sparkContext._jvm
    reader = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), reader
    )
    texts = []
    while dfr.hasNext():
        texts.append(str(dfr.next().get("text")))
    dfr.close()
    assert texts == [r["text"] for r in _RECS]
    # and we must read Java's snappy output
    jschema = jvm.org.apache.avro.Schema.Parser().parse(_SCHEMA)
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(jschema)
    dfw = jvm.org.apache.avro.file.DataFileWriter(writer)
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.snappyCodec())
    jpath = os.path.join(str(tmp_path), "java_snappy.avro")
    dfw.create(jschema, jvm.java.io.File(jpath))
    jr = jvm.org.apache.avro.generic.GenericData.Record(jschema)
    jr.put("doc_id", 7)
    jr.put("text", "from java")
    jr.put("tags", jvm.java.util.ArrayList())
    jr.put("score", None)
    jr.put("ok", True)
    dfw.append(jr)
    dfw.close()
    with open(jpath, "rb") as fh:
        _s2, c2, back2 = read_avro(fh.read())
    assert c2 == "snappy"
    assert back2 == [
        {"doc_id": 7, "text": "from java", "tags": [], "score": None,
         "ok": True}
    ]


def test_avro_snappy_crc_is_checked():
    from etl_pipeline_old_spark.operators.avro import write_avro

    blob = bytearray(write_avro(_RECS, _SCHEMA, codec="snappy"))
    # flip a byte inside the block payload (before the final sync)
    blob[-20] ^= 0x01
    with pytest.raises(ValueError):
        read_avro(bytes(blob))


def test_avro_zstandard_blocks_are_libzstd_readable():
    """The zstandard codec's block payloads are spec-legal zstd frames:
    libzstd (pyarrow's bundled codec) must decode the raw block bytes
    the own writer emits — the cross-validation leg that needs no
    zstd-enabled Java classpath."""
    import io as io_

    import pyarrow as pa_

    from etl_pipeline_old_spark.operators.avro import read_long

    blob = write_avro(_RECS, _SCHEMA, codec="zstandard")
    buf = io_.BytesIO(blob)
    assert buf.read(4) == b"Obj\x01"
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            read_long(buf)
        for _ in range(n):
            for _k in range(2):
                ln = read_long(buf)
                buf.read(ln)
    buf.read(16)  # sync
    read_long(buf)  # block record count
    size = read_long(buf)
    payload = buf.read(size)
    out = pa_.Codec("zstd").decompress(payload, None) if False else None
    # decompressed_size unknown up front: decode via the own decoder and
    # confirm libzstd agrees on the same bytes
    from etl_pipeline_old_spark.operators.zstd import decompress as zd

    raw = zd(payload)
    assert bytes(pa_.Codec("zstd").decompress(payload, len(raw))) == raw

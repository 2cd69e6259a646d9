"""Hadoop SequenceFile — own pure-stdlib codec, written from the
public Hadoop SequenceFile format (the o.a.h.io.SequenceFile javadoc
and Writable wire rules: SEQ magic + version 6, Text/BytesWritable
serialization, WritableUtils vints, 16-byte sync markers with the
0xFFFFFFFF escape, record- and block-compression layouts).

Why this exists: SequenceFile is the ORIGINAL Hadoop container —
classic Hive/MapReduce estates hold petabytes of .seq key-value data
(log archives, intermediate tables, HBase exports), and a 100 TB
ingester inheriting such an estate needs to read them without a
MapReduce cluster.  CPython has no reader.

Conformance pin — the strong JVM one: Spark's own
``saveAsSequenceFile`` (the Hadoop reference implementation on the
live session's JVM) writes the staged fixtures, in all three layouts
this reader decodes — uncompressed, record-compressed and
block-compressed — under DefaultCodec (zlib) and SnappyCodec (the
Hadoop snappy FRAMING: 4-byte big-endian uncompressed size, then
4-byte-BE-length-prefixed raw snappy chunks, decoded by the own
snappy codec).  tests/test_sequencefile.py round-trips real JVM bytes
value-for-value.

Implemented from the format:

- **Header**: ``SEQ\\x06``, key/value class names as Text, the two
  compression flag bytes, codec class name (iff compressed), metadata
  pairs, 16-byte sync.
- **Records (un/record-compressed)**: 4-byte BE record length, 4-byte
  BE key length, key bytes, value bytes (value codec-compressed in
  record mode); ``0xFFFFFFFF`` escapes a sync marker, verified
  against the header's.
- **Blocks (block-compressed)**: sync escape + sync, vint record
  count, then four length-prefixed codec-compressed streams —
  key-lengths (vints), keys, value-lengths (vints), values.
- **Writables**: Text = vint length + UTF-8; BytesWritable = 4-byte
  BE length + bytes; WritableUtils vints per the spec's
  first-byte-size scheme (-112..127 inline, -113..-120 positive
  multi-byte, -121..-128 negative with complement).

Damage (bad magic, sync mismatch, truncated record/block, codec
errors, unsupported codecs) raises ValueError /
NotImplementedError — one shard costs one record, never the job.
"""

from __future__ import annotations

import struct

from .compression import decompress

_MAGIC = b"SEQ"
_SYNC_ESCAPE = 0xFFFFFFFF

_DEFAULT_CODEC = "org.apache.hadoop.io.compress.DefaultCodec"
_SNAPPY_CODEC = "org.apache.hadoop.io.compress.SnappyCodec"
_GZIP_CODEC = "org.apache.hadoop.io.compress.GzipCodec"
_BZIP2_CODEC = "org.apache.hadoop.io.compress.BZip2Codec"
_CODECS = {_DEFAULT_CODEC: "zlib", _GZIP_CODEC: "gzip", _BZIP2_CODEC: "bz2"}


def read_vint(buf: bytes, pos: int) -> tuple[int, int]:
    """WritableUtils.readVLong: first byte inline for -112..127, else
    a size+sign prefix and big-endian magnitude bytes."""
    if pos >= len(buf):
        raise ValueError("sequencefile: truncated vint")
    b = buf[pos]
    if b >= 128:
        b -= 256
    pos += 1
    if b >= -112:
        return b, pos
    if b >= -120:
        size, negative = -(b + 112), False
    else:
        size, negative = -(b + 120), True
    if pos + size > len(buf):
        raise ValueError("sequencefile: truncated vint magnitude")
    v = int.from_bytes(buf[pos : pos + size], "big")
    pos += size
    return (~v if negative else v), pos


def _read_text(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_vint(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("sequencefile: truncated Text")
    return buf[pos : pos + n], pos + n


def _decompress(codec: str | None, blob: bytes) -> bytes:
    if codec is None:
        return blob
    if codec in _CODECS:
        return decompress(_CODECS[codec], blob)
    if codec == _SNAPPY_CODEC:
        # Hadoop snappy framing: u32 BE total uncompressed size, then
        # u32-BE-length-prefixed raw snappy chunks
        if len(blob) < 4:
            raise ValueError("sequencefile: truncated snappy framing")
        (total,) = struct.unpack_from(">I", blob)
        pos = 4
        out = bytearray()
        while len(out) < total:
            if pos + 4 > len(blob):
                raise ValueError("sequencefile: truncated snappy chunk")
            (clen,) = struct.unpack_from(">I", blob, pos)
            pos += 4
            if pos + clen > len(blob):
                raise ValueError("sequencefile: snappy chunk overruns block")
            out += decompress("snappy", blob[pos : pos + clen])
            pos += clen
        if len(out) != total:
            raise ValueError("sequencefile: snappy framing size lied")
        return bytes(out)
    raise NotImplementedError(
        f"sequencefile: codec {codec} unsupported (Default/Gzip/Snappy/"
        "BZip2 decode natively; LZO has no honest in-container path)"
    )


def read_header(blob: bytes) -> dict:
    if len(blob) < 4 or blob[:3] != _MAGIC:
        raise ValueError("sequencefile: bad SEQ magic")
    version = blob[3]
    if version != 6:
        raise NotImplementedError(
            f"sequencefile: version {version} unsupported (6 is the "
            "format every live Hadoop writes)"
        )
    pos = 4
    key_class, pos = _read_text(blob, pos)
    value_class, pos = _read_text(blob, pos)
    if pos + 2 > len(blob):
        raise ValueError("sequencefile: truncated compression flags")
    compressed = blob[pos] != 0
    block = blob[pos + 1] != 0
    pos += 2
    codec = None
    if compressed or block:
        c, pos = _read_text(blob, pos)
        codec = c.decode("utf-8")
    if pos + 4 > len(blob):
        raise ValueError("sequencefile: truncated metadata count")
    (n_meta,) = struct.unpack_from("<I", blob, pos)
    pos += 4
    metadata = {}
    for _ in range(n_meta):
        k, pos = _read_text(blob, pos)
        v, pos = _read_text(blob, pos)
        metadata[k.decode("utf-8")] = v.decode("utf-8")
    if pos + 16 > len(blob):
        raise ValueError("sequencefile: truncated sync marker")
    sync = blob[pos : pos + 16]
    pos += 16
    return {
        "key_class": key_class.decode("utf-8"),
        "value_class": value_class.decode("utf-8"),
        "compressed": compressed,
        "block": block,
        "codec": codec,
        "metadata": metadata,
        "sync": sync,
        "data_at": pos,
    }


def _strip_writable(raw: bytes, java_class: str) -> bytes:
    """Unwrap one serialized Writable to its payload bytes."""
    if java_class.endswith(".Text"):
        v, pos = _read_text(raw, 0)
        if pos != len(raw):
            raise ValueError("sequencefile: Text shorter than its record slot")
        return v
    if java_class.endswith(".BytesWritable"):
        if len(raw) < 4:
            raise ValueError("sequencefile: truncated BytesWritable")
        (n,) = struct.unpack_from(">I", raw)
        if 4 + n != len(raw):
            raise ValueError("sequencefile: BytesWritable length lies")
        return raw[4 : 4 + n]
    raise NotImplementedError(
        f"sequencefile: writable {java_class} unsupported (Text and "
        "BytesWritable cover the Spark RDD surface)"
    )


def iter_records(blob: bytes):
    """Yield ``(key_bytes, value_bytes)`` across all three layouts."""
    hdr = read_header(blob)
    sync = hdr["sync"]
    codec = hdr["codec"]
    kc, vc = hdr["key_class"], hdr["value_class"]
    pos = hdr["data_at"]
    if hdr["block"]:
        while pos < len(blob):
            if pos + 4 > len(blob):
                raise ValueError("sequencefile: truncated block escape")
            (esc,) = struct.unpack_from(">I", blob, pos)
            if esc != _SYNC_ESCAPE:
                raise ValueError("sequencefile: block without sync escape")
            pos += 4
            if blob[pos : pos + 16] != sync:
                raise ValueError("sequencefile: sync marker mismatch")
            pos += 16
            if pos >= len(blob):
                break
            n_rec, pos = read_vint(blob, pos)

            def stream(pos: int) -> tuple[bytes, int]:
                ln, pos = read_vint(blob, pos)
                if ln < 0 or pos + ln > len(blob):
                    raise ValueError("sequencefile: block stream truncated")
                return _decompress(codec, blob[pos : pos + ln]), pos + ln

            klens_raw, pos = stream(pos)
            keys_raw, pos = stream(pos)
            vlens_raw, pos = stream(pos)
            vals_raw, pos = stream(pos)

            def lengths(raw: bytes) -> list[int]:
                out, p = [], 0
                while p < len(raw):
                    v, p = read_vint(raw, p)
                    out.append(v)
                return out

            klens, vlens = lengths(klens_raw), lengths(vlens_raw)
            if len(klens) != n_rec or len(vlens) != n_rec:
                raise ValueError("sequencefile: block record count lies")
            ka = va = 0
            for kl, vl in zip(klens, vlens):
                if ka + kl > len(keys_raw) or va + vl > len(vals_raw):
                    raise ValueError("sequencefile: block data truncated")
                yield (
                    _strip_writable(keys_raw[ka : ka + kl], kc),
                    _strip_writable(vals_raw[va : va + vl], vc),
                )
                ka += kl
                va += vl
        return
    # record layout (plain or record-compressed)
    while pos < len(blob):
        if pos + 4 > len(blob):
            raise ValueError("sequencefile: truncated record length")
        (rec_len,) = struct.unpack_from(">I", blob, pos)
        pos += 4
        if rec_len == _SYNC_ESCAPE:
            if blob[pos : pos + 16] != sync:
                raise ValueError("sequencefile: sync marker mismatch")
            pos += 16
            continue
        if pos + 4 > len(blob):
            raise ValueError("sequencefile: truncated key length")
        (key_len,) = struct.unpack_from(">I", blob, pos)
        pos += 4
        if key_len > rec_len or pos + rec_len - 4 > len(blob) + 4:
            raise ValueError("sequencefile: record lengths inconsistent")
        if pos + key_len > len(blob):
            raise ValueError("sequencefile: truncated key bytes")
        key_raw = blob[pos : pos + key_len]
        pos += key_len
        val_len = rec_len - key_len
        if pos + val_len > len(blob):
            raise ValueError("sequencefile: truncated value bytes")
        val_raw = blob[pos : pos + val_len]
        pos += val_len
        if hdr["compressed"]:
            val_raw = _decompress(codec, val_raw)
        yield _strip_writable(key_raw, kc), _strip_writable(val_raw, vc)

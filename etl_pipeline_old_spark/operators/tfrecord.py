"""TFRecord container + tf.Example records — own pure-stdlib codec,
written from the public TensorFlow data formats documentation
(tensorflow.org/tutorials/load_data/tfrecord; the framing is also
specified in the TensorFlow source's riegeli/records docs): every
record is ``uint64le length, uint32le masked-crc32c(length bytes),
payload, uint32le masked-crc32c(payload)``, and the payload of a
training shard is a ``tf.train.Example`` protobuf.

Why this exists: TFRecord is the training-shard lingua franca of the
TF/JAX world the way WebDataset tar is for the torch world — public
corpora and dataloader pipelines ship it constantly — and this
container has no tensorflow.  The protobuf layer rides the same
schema-less wire walker the ORC codec pins (protobuf_wire.py); the
published tf.train.Example field numbers are tiny and stable
(Example{1: Features}, Features{1: map<string, Feature>},
Feature{1: BytesList, 2: FloatList, 3: Int64List}, each list field 1,
floats packed fixed32, ints packed varint).

Conformance pin: the CRC32C kernel (Castagnoli polynomial 0x1EDC6F41,
reflected, init/xorout all-ones) is pinned by the SPEC-PRINTED test
vectors of RFC 3720 §B.4 (all-zeros, all-ones, ascending, descending
32-byte blocks) plus the classic check value crc32c('123456789') =
0xE3069283 — the gold-standard class of pin.  The masking constant
0xa282ead8 and the rotate-right-15 scheme are the published TFRecord
masking.  The container+Example layers are own-writer roundtrip plus
spec-structure (no TF in-container to differ against) — stated as
such in CONFORMANCE.md.

Damage model: a record whose DATA crc lies is skippable (framing
intact — yield None for that slot and continue the shard); a LENGTH
crc lie means the framing itself cannot be trusted (no sync markers
exist to resync) and the rest of the shard raises ValueError — one
bad length costs the shard's tail, loudly, never silently-wrong
records.
"""

from __future__ import annotations

import struct

from .bitio import read_uvarint, write_uvarint
from .protobuf_wire import WT_LEN, WT_VARINT, parse_message

# ------------------------------------------------------------- crc32c
_CRC32C_POLY = 0x82F63B78  # 0x1EDC6F41 reflected


def _make_table() -> list[int]:
    tbl = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        tbl.append(c)
    return tbl


_TABLE = _make_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """The TFRecord masking: rotate right 15, add the masking delta."""
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ------------------------------------------------------------- framing
def write_tfrecords(records: list[bytes]) -> bytes:
    out = bytearray()
    for rec in records:
        hdr = struct.pack("<Q", len(rec))
        out += hdr
        out += struct.pack("<I", masked_crc32c(hdr))
        out += rec
        out += struct.pack("<I", masked_crc32c(rec))
    return bytes(out)


def iter_tfrecords(blob: bytes):
    """Yield each record's payload, or ``None`` for a record whose data
    crc lies (skippable damage).  A lying LENGTH crc or truncation
    raises ValueError — without sync markers the shard tail is
    unrecoverable and must fail loudly."""
    pos = 0
    while pos < len(blob):
        if pos + 12 > len(blob):
            raise ValueError("tfrecord: truncated length header")
        hdr = blob[pos : pos + 8]
        (want_hcrc,) = struct.unpack_from("<I", blob, pos + 8)
        if masked_crc32c(hdr) != want_hcrc:
            raise ValueError("tfrecord: length crc mismatch — framing lost")
        (length,) = struct.unpack("<Q", hdr)
        pos += 12
        if pos + length + 4 > len(blob):
            raise ValueError("tfrecord: truncated record payload")
        payload = blob[pos : pos + length]
        (want_dcrc,) = struct.unpack_from("<I", blob, pos + length)
        pos += length + 4
        if masked_crc32c(payload) != want_dcrc:
            yield None  # one bad body costs one record
        else:
            yield payload


# ------------------------------------------------------- tf.Example
def _field_key(field: int, wt: int) -> bytes:
    return write_uvarint((field << 3) | wt)


def _len_field(field: int, payload: bytes) -> bytes:
    return _field_key(field, WT_LEN) + write_uvarint(len(payload)) + payload


def encode_example(features: dict) -> bytes:
    """``tf.train.Example`` from a dict of feature name → value, where
    a value is ``bytes``/``str`` (BytesList), ``list[float]``
    (FloatList, packed fixed32), or ``list[int]`` (Int64List, packed
    varints).  Feature order is the sorted name order so staging is
    byte-deterministic."""
    feats = bytearray()
    for name in sorted(features):
        val = features[name]
        if isinstance(val, str):
            val = val.encode("utf-8")
        if isinstance(val, bytes):
            flist = _len_field(1, _len_field(1, val))  # BytesList.value
        elif isinstance(val, list) and val and isinstance(val[0], float):
            packed = b"".join(struct.pack("<f", v) for v in val)
            flist = _len_field(2, _len_field(1, packed))  # FloatList packed
        elif isinstance(val, list):
            # negative int64s go as two's-complement 64-bit varints
            # (10 bytes), per the protobuf wire spec
            packed = b"".join(
                write_uvarint(int(v) & 0xFFFFFFFFFFFFFFFF) for v in val
            )
            flist = _len_field(3, _len_field(1, packed))  # Int64List packed
        else:
            raise ValueError(f"tf.Example: unsupported feature type for {name}")
        entry = _len_field(1, name.encode("utf-8")) + _len_field(2, flist)
        feats += _len_field(1, entry)  # Features.feature map entry
    return _len_field(1, bytes(feats))  # Example.features


def decode_example(buf: bytes) -> dict:
    """Example → {name: (kind, values)} with kind in bytes/float/int64."""
    example = parse_message(buf)
    features_bytes = _last_len(example, 1, "Example.features")
    features = parse_message(features_bytes)
    out: dict = {}
    for wt, entry_bytes in features.get(1, []):
        if wt != WT_LEN:
            raise ValueError("tf.Example: map entry has non-LEN wire type")
        entry = parse_message(entry_bytes)
        name = _last_len(entry, 1, "feature name").decode("utf-8")
        feat = parse_message(_last_len(entry, 2, "feature value"))
        if 1 in feat:  # BytesList
            blist = parse_message(_last_len(feat, 1, "BytesList"))
            out[name] = (
                "bytes",
                [v for wt_, v in blist.get(1, []) if wt_ == WT_LEN],
            )
        elif 2 in feat:  # FloatList (packed or repeated I32)
            flist = parse_message(_last_len(feat, 2, "FloatList"))
            vals: list[float] = []
            for wt_, v in flist.get(1, []):
                if wt_ == WT_LEN:
                    if len(v) % 4:
                        raise ValueError("tf.Example: ragged packed floats")
                    vals.extend(
                        struct.unpack(f"<{len(v) // 4}f", v)
                    )
                else:  # unpacked I32
                    vals.append(struct.unpack("<f", struct.pack("<I", v))[0])
            out[name] = ("float", vals)
        elif 3 in feat:  # Int64List (packed or repeated varint)
            ilist = parse_message(_last_len(feat, 3, "Int64List"))
            vals = []
            for wt_, v in ilist.get(1, []):
                if wt_ == WT_LEN:
                    pos = 0
                    while pos < len(v):
                        n, pos = read_uvarint(v, pos)
                        vals.append(_to_i64(n))
                elif wt_ == WT_VARINT:
                    vals.append(_to_i64(v))
            out[name] = ("int64", vals)
        else:
            out[name] = ("empty", [])
    return out


def _last_len(msg, field: int, what: str) -> bytes:
    vals = [v for wt, v in msg.get(field, []) if wt == WT_LEN]
    if not vals:
        raise ValueError(f"tf.Example: missing {what}")
    return vals[-1]


def _to_i64(n: int) -> int:
    return n - (1 << 64) if n >= (1 << 63) else n

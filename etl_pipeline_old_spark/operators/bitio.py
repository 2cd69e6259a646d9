"""Bit readers, bit writers, LEB128 varints and zigzag — the primitives
every codec in this package builds its bitstreams from.

- ``MsbReader`` / ``MsbWriter``: most-significant bit of each byte first
  (FLAC, CCITT fax, ORC RLEv2 packing, AAC configs, PDF LZW).
- ``LsbReader`` / ``LsbWriter``: least-significant bit first (VP8L, GIF
  LZW, zstd FSE table headers).
- ``read_uvarint`` / ``write_uvarint``: unsigned LEB128 (protobuf,
  Thrift compact, parquet pages, snappy, xz, Avro).
- ``zigzag_encode`` / ``zigzag_decode``: the signed mapping
  0, -1, 1, -2, … -> 0, 1, 2, 3, ….

Readers take a bit position ``pos`` (a plain attribute, so hot decoders
may peek at ``data`` and ``pos`` directly) and raise ``ValueError`` on a
read past the end, never returning a value built from missing bits.
``read_uvarint`` stops after ``max_bytes`` bytes, so a run of
continuation bytes costs at most that many steps.  Writers pack into an
integer accumulator and move whole bytes out every 64 bits.
"""

from __future__ import annotations

EXHAUSTED = "truncated bit stream: data exhausted"


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # bit position

    def align(self) -> int:
        """Skip to the next byte boundary; returns that byte's index."""
        self.pos = (self.pos + 7) & ~7
        return self.pos >> 3


class MsbReader(_Reader):
    """MSB-first reader: stream bit ``i`` is bit ``7 - i % 8`` of byte
    ``i // 8``."""

    __slots__ = ()

    def read(self, n: int) -> int:
        if n <= 0:
            return 0
        pos = self.pos
        end = pos + n
        data = self.data
        if end > len(data) << 3:
            raise ValueError(EXHAUSTED)
        self.pos = end
        chunk = int.from_bytes(data[pos >> 3 : (end + 7) >> 3], "big")
        return (chunk >> (-end & 7)) & ((1 << n) - 1)


class LsbReader(_Reader):
    """LSB-first reader: stream bit ``i`` is bit ``i % 8`` of byte
    ``i // 8``; ``read(n)`` returns the first bit read as bit 0."""

    __slots__ = ()

    def read(self, n: int) -> int:
        # one int.from_bytes per call, not one mask and shift per bit
        if n <= 0:
            return 0
        pos = self.pos
        last_byte = (pos + n - 1) >> 3
        if last_byte >= len(self.data):
            raise ValueError(EXHAUSTED)
        chunk = int.from_bytes(self.data[pos >> 3 : last_byte + 1], "little")
        self.pos = pos + n
        return (chunk >> (pos & 7)) & ((1 << n) - 1)


class _Writer:
    __slots__ = ("out", "acc", "nacc")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0  # bits held in acc, not yet moved to out

    def tell(self) -> int:
        """Bits written so far."""
        return (len(self.out) << 3) + self.nacc


class MsbWriter(_Writer):
    """Writes the low ``n`` bits of ``value`` most-significant first;
    ``getvalue`` zero-pads the last byte."""

    __slots__ = ()

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nacc += n
        if self.nacc >= 64:
            keep = self.nacc & 7
            self.out += (self.acc >> keep).to_bytes(self.nacc >> 3, "big")
            self.acc &= (1 << keep) - 1
            self.nacc = keep

    def getvalue(self) -> bytes:
        pad = -self.nacc & 7
        tail = (self.acc << pad).to_bytes((self.nacc + pad) >> 3, "big")
        return bytes(self.out) + tail


class LsbWriter(_Writer):
    """Writes the low ``n`` bits of ``value`` least-significant first;
    ``getvalue`` zero-pads the last byte."""

    __slots__ = ()

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nacc
        self.nacc += n
        if self.nacc >= 64:
            nbytes = self.nacc >> 3
            self.out += (self.acc & ((1 << (nbytes << 3)) - 1)).to_bytes(
                nbytes, "little"
            )
            self.acc >>= nbytes << 3
            self.nacc &= 7

    def getvalue(self) -> bytes:
        return bytes(self.out) + self.acc.to_bytes((self.nacc + 7) >> 3, "little")


def read_uvarint(buf: bytes, pos: int, max_bytes: int = 10) -> tuple[int, int]:
    """Unsigned LEB128 at ``buf[pos]`` -> (value, next position), at
    most ``max_bytes`` bytes long."""
    out = shift = 0
    end = min(len(buf), pos + max_bytes)
    while pos < end:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, pos
        shift += 7
    if shift >= 7 * max_bytes:
        raise ValueError(f"varint longer than {max_bytes} bytes")
    raise ValueError("truncated varint")


def write_uvarint(n: int) -> bytes:
    """Unsigned LEB128 bytes of ``n >= 0``."""
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def zigzag_encode(n: int) -> int:
    """Signed -> unsigned: 0, -1, 1, -2, … -> 0, 1, 2, 3, … for any int."""
    return n << 1 if n >= 0 else (~n << 1) | 1


def zigzag_decode(z: int) -> int:
    return (z >> 1) ^ -(z & 1)

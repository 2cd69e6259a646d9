"""Decompression with an output ceiling: the one place this package
decodes a compressed payload.

``decompress(codec, data, limit=MAX_OUTPUT)`` takes the codec names

- ``deflate`` (raw RFC 1951), ``zlib`` (RFC 1950) and ``gzip`` (one
  RFC 1952 member): bytes after the end of the stream are ignored, as
  ``zlib.decompress`` ignores them;
- ``bz2`` and ``xz`` (``xz`` also reads legacy ``.lzma``): concatenated
  streams decode in turn, and bytes after the last one that do not
  start a valid stream are ignored, as ``bz2.decompress`` and
  ``lzma.decompress`` do;
- ``snappy`` (one raw block), ``zstd`` (frames) and ``lz4_block``: the
  package's own decoders, which stop at ``MAX_OUTPUT`` themselves.

Containers map their own codec names onto these and keep their framing.
The stdlib decoders run with ``max_length = limit + 1``, so a bomb costs
at most ``limit + 1`` bytes before it is refused.  Output over ``limit``
(clamped to ``MAX_OUTPUT``), a stream that ends before its end marker,
and every library error raise ``ValueError`` naming the codec.
"""

from __future__ import annotations

import bz2
import lzma
import zlib
from importlib import import_module

MAX_OUTPUT = 1 << 30  # 1 GiB per call: no corpus payload is that big

_WBITS = {
    "deflate": -zlib.MAX_WBITS, "zlib": zlib.MAX_WBITS, "gzip": 16 + zlib.MAX_WBITS,
}
_STREAMS = {"bz2": bz2.BZ2Decompressor, "xz": lzma.LZMADecompressor}
# imported on first use: zstd and lz4 import MAX_OUTPUT from this module
_OWN = {
    "snappy": ("snappy", "decompress"),
    "zstd": ("zstd", "decompress"),
    "lz4_block": ("lz4", "decompress_block"),
}
_ERRORS = (zlib.error, OSError, EOFError, lzma.LZMAError)


def _check(codec: str, out: bytes, eof: bool, limit: int) -> None:
    if len(out) > limit:
        raise ValueError(f"{codec}: output exceeds {limit} bytes")
    if not eof:
        raise ValueError(f"{codec}: stream ends before its end marker")


def _inflate(codec: str, data: bytes, limit: int) -> tuple[bytes, int]:
    """Output of one zlib-family stream and the input bytes it used."""
    d = zlib.decompressobj(_WBITS[codec])
    try:
        out = d.decompress(data, limit + 1)
    except zlib.error as exc:
        raise ValueError(f"{codec}: {exc}") from exc
    _check(codec, out, d.eof, limit)
    return out, len(data) - len(d.unused_data)


def _streams(codec: str, data: bytes, limit: int) -> bytes:
    if codec == "bz2" and not data:
        return b""  # bz2.decompress(b"") is b""; lzma.decompress raises
    parts: list[bytes] = []
    total = 0
    while True:
        d = _STREAMS[codec]()
        try:
            out = d.decompress(data, limit - total + 1)
        except _ERRORS as exc:
            if parts:
                break  # trailing bytes that start no stream
            raise ValueError(f"{codec}: {exc}") from exc
        _check(codec, out, d.eof, limit - total)
        total += len(out)
        parts.append(out)
        data = d.unused_data
        if not data:
            break
    return b"".join(parts)


def decompress(codec: str, data: bytes, *, limit: int = MAX_OUTPUT) -> bytes:
    """``data`` decoded by ``codec``; at most ``limit`` bytes of output."""
    limit = max(0, min(limit, MAX_OUTPUT))
    if codec in _WBITS:
        return _inflate(codec, data, limit)[0]
    if codec in _STREAMS:
        return _streams(codec, data, limit)
    module, name = _OWN[codec]
    out = getattr(import_module(f".{module}", __package__), name)(data)
    _check(codec, out, True, limit)
    return out


def gunzip_member(data: bytes) -> tuple[bytes, int]:
    """The first gzip member of ``data`` and the input bytes it used,
    for walkers of concatenated members (``.warc.gz``)."""
    return _inflate("gzip", data, MAX_OUTPUT)

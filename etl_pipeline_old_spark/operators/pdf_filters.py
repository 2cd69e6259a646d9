"""Legacy PDF stream filters (ISO 32000-1 §7.4): ASCIIHexDecode,
ASCII85Decode, RunLengthDecode, LZWDecode — what pre-Flate-era PDFs
(Acrobat 1.x-3.x exports, ancient scanners, PostScript conversions)
actually carry, and the remaining stream-filter seams after Flate,
DCT, and CCITT.

Own pure-stdlib encoders+decoders.  LZW is the TIFF/PDF variant:
9→12-bit codes packed MSB-first, Clear=256 / EOD=257, the table reset
at 4096, and the EarlyChange convention (code width grows ONE CODE
EARLY by default — the off-by-one that separates PDF/TIFF LZW from
textbook LZW).  The decoder is pinned by the spec's own published
example (ISO 32000-1 §7.4.4.2: 45 45 45 45 45 65 45 45 45 66 ↔
80 0B 60 50 22 0C 0C 85 01) in tests/test_pdf_filters.py, so the
packing order and code assignment cannot silently mirror; the
EarlyChange width boundaries are exercised by roundtrips crossing
the 511/1023/2047/4095 table sizes at both EarlyChange settings.

Damage raises ValueError: a non-hex byte, an ASCII85 group overflow
or 'z' inside a group, a run-length stream without its EOD, an LZW
code beyond the table.
"""

from __future__ import annotations

from .bitio import MsbReader, MsbWriter

_A85_EXP = (85 ** 4, 85 ** 3, 85 ** 2, 85, 1)


def ascii_hex_encode(data: bytes) -> bytes:
    body = data.hex().upper().encode("ascii")
    # fold for the 255-char PDF line convention
    lines = [body[i : i + 64] for i in range(0, len(body), 64)]
    return b"\n".join(lines) + b">"


def ascii_hex_decode(data: bytes) -> bytes:
    out = bytearray()
    hi = None
    for b in data:
        c = chr(b)
        if c == ">":
            if hi is not None:  # odd count: low nibble is 0 per spec
                out.append(int(hi + "0", 16))
            return bytes(out)
        if c.isspace():
            continue
        if c not in "0123456789abcdefABCDEF":
            raise ValueError(f"asciihex: invalid character {c!r}")
        if hi is None:
            hi = c
        else:
            out.append(int(hi + c, 16))
            hi = None
    raise ValueError("asciihex: missing '>' EOD marker")


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        group = data[i : i + 4]
        n = len(group)
        v = int.from_bytes(group + b"\x00" * (4 - n), "big")
        if v == 0 and n == 4:
            out += b"z"
            continue
        chunk = bytearray()
        for e in _A85_EXP:
            chunk.append(33 + (v // e) % 85)
        out += chunk[: n + 1]
    return bytes(out) + b"~>"


def ascii85_decode(data: bytes) -> bytes:
    out = bytearray()
    group: list[int] = []

    def flush(g: list[int], n_out: int) -> None:
        v = 0
        for d in g:
            v = v * 85 + d
        if v > 0xFFFFFFFF:
            raise ValueError("ascii85: group overflows 32 bits")
        out.extend(v.to_bytes(4, "big")[:n_out])

    i = 0
    while i < len(data):
        b = data[i]
        c = chr(b)
        if c.isspace():
            i += 1
            continue
        if c == "~":
            if data[i : i + 2] != b"~>":
                raise ValueError("ascii85: bad EOD marker")
            if len(group) == 1:
                raise ValueError("ascii85: lone trailing digit")
            if group:
                n = len(group)
                flush(group + [84] * (5 - n), n - 1)
            return bytes(out)
        if c == "z":
            if group:
                raise ValueError("ascii85: 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        if not 33 <= b <= 117:
            raise ValueError(f"ascii85: invalid character {c!r}")
        group.append(b - 33)
        if len(group) == 5:
            flush(group, 4)
            group = []
        i += 1
    raise ValueError("ascii85: missing '~>' EOD marker")


def rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        # literal stretch up to the next >=3 repeat (or 128 bytes)
        j = i
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out) + b"\x80"


def rle_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        if ln == 128:
            return bytes(out)
        if ln < 128:
            chunk = data[i + 1 : i + 2 + ln]
            if len(chunk) < ln + 1:
                raise ValueError("rle: literal run truncated")
            out += chunk
            i += 2 + ln
        else:
            if i + 1 >= len(data):
                raise ValueError("rle: repeat run truncated")
            out += bytes([data[i + 1]]) * (257 - ln)
            i += 2
    raise ValueError("rle: missing EOD (128) marker")


_LZW_CLEAR, _LZW_EOD = 256, 257


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    bw = MsbWriter()
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt, width = 258, 9
    bw.write(_LZW_CLEAR, width)
    cur = b""
    for byte in data:
        ext = cur + bytes([byte])
        if ext in table:
            cur = ext
            continue
        bw.write(table[cur], width)
        if nxt == 4096:
            bw.write(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
        else:
            table[ext] = nxt
            nxt += 1
            if nxt + early - 1 >= (1 << width) and width < 12:
                width += 1
        cur = bytes([byte])
    if cur:
        bw.write(table[cur], width)
        # the decoder appends one entry after the final data code and
        # then reads EOD — mirror its width there (no add on this side,
        # so the condition shifts by one vs the mid-loop check)
        if nxt + early >= (1 << width) and width < 12:
            width += 1
    bw.write(_LZW_EOD, width)
    return bw.getvalue()


def lzw_decode(data: bytes, early: int = 1) -> bytes:
    out = bytearray()
    br = MsbReader(data)
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    while True:
        code = br.read(width)
        if code == _LZW_EOD:
            return bytes(out)
        if code == _LZW_CLEAR:
            table = table[:258]
            width, prev = 9, None
            continue
        if prev is None:
            if code > 255:
                raise ValueError(f"lzw: first code {code} is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"lzw: code {code} beyond the table")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
        # the decoder's table is one entry BEHIND the encoder's when a
        # code is read, so its bump threshold sits one lower
        if len(table) + early >= (1 << width) and width < 12:
            width += 1
        prev = entry

"""CCITT Group 4 (ITU-T T.6, 2D MMR) fax codec — the compression
virtually every SCANNED-document PDF carries in its page images
(/Filter /CCITTFaxDecode with /K < 0), and the r12 verdict's #3 gap.

Own pure-stdlib implementation from the public ITU-T T.4/T.6 specs:
the modified-Huffman run-length tables (T.4 §2 tables 2/3 plus the
shared extended makeups) are transcribed literally, and the 2D coding
modes (vertical V0/VR/VL up to 3, pass, horizontal) follow T.6 §2.2.
One-dimensional G3 (T.4 MH rows with EOL framing — PDF /K 0) decodes
through the same tables; mixed 2D G3 (K > 0) stays the loud seam.
The encoder exists to stage fixtures (as with every codec here); the
decoder is the product.

Conformance pinning (honesty note, same situation as VP8L/FLAC/BSON):
no independent CCITT codec exists in this container (no PIL), so
correctness rests on (a) the MH tables being checked prefix-free and
complete at import, (b) hand-computed bitstreams for each 2D mode in
tests/test_ccitt.py, and (c) encoder↔decoder roundtrips over
adversarial rasters — with the self-roundtrip blind spot named: a
mirrored mode table would need the same mirror in both halves, which
the hand-pinned vectors rule out for the modes they cover.

Internal pixel convention: 1 = BLACK (the T.6 algorithm's view).  PDF
polarity (/BlackIs1, default false meaning 0 = black in the DECODED
output) is applied by the caller — the coded stream itself is
polarity-free, encoding runs of white/black directly.

Damage raises ValueError: unknown codes, runs overflowing the row,
coded data exhausted mid-picture, a vertical move outside the row.
"""

from __future__ import annotations

from .bitio import MsbReader, MsbWriter

# ---------------------------------------------------- T.4 MH tables
# (run length, code bits as a string) — transcribed from ITU-T T.4.

_WHITE_CODES = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

_BLACK_CODES = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# extended makeups 1792..2560 are shared by both colors (T.4 table 4)
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

_WHITE_ALL = {**_WHITE_CODES, **_EXT_MAKEUP}
_BLACK_ALL = {**_BLACK_CODES, **_EXT_MAKEUP}

# decode tries: code-string -> run length
_WHITE_DEC = {v: k for k, v in _WHITE_ALL.items()}
_BLACK_DEC = {v: k for k, v in _BLACK_ALL.items()}

# 2D mode codes (T.6 §2.2.4)
_MODE_V0 = "1"
_MODE_VR = {1: "011", 2: "000011", 3: "0000011"}
_MODE_VL = {1: "010", 2: "000010", 3: "0000010"}
_MODE_H = "001"
_MODE_PASS = "0001"
_EOFB = "000000000001" * 2


def _check_tables() -> None:
    """Prefix-freeness + completeness at import — a transcription typo
    in a 100+-entry constant table must fail loudly, not decode junk."""
    for name, table in (("white", _WHITE_DEC), ("black", _BLACK_DEC)):
        codes = sorted(table, key=len)
        for i, c in enumerate(codes):
            for d in codes[i + 1:]:
                if d.startswith(c):
                    raise AssertionError(f"ccitt: {name} codes not prefix-free: {c} < {d}")
    for t in (_WHITE_ALL, _BLACK_ALL):
        assert all(r in t for r in range(64)), "ccitt: missing terminal"
        assert all(r in t for r in range(64, 2561, 64)), "ccitt: missing makeup"


_check_tables()


def _put(bw: MsbWriter, code: str) -> None:
    bw.write(int(code, 2), len(code))


def _take(br: MsbReader) -> str:
    return "1" if br.read(1) else "0"


def _put_run(bw: MsbWriter, run: int, white: bool) -> None:
    table = _WHITE_ALL if white else _BLACK_ALL
    while run > 2560 + 63:
        _put(bw, table[2560])
        run -= 2560
    if run >= 64:
        mk = (run // 64) * 64
        _put(bw, table[mk])
        run -= mk
    _put(bw, table[run])


def _changes(line: list[int], w: int) -> list[int]:
    """Positions where the pixel color changes, treating the imaginary
    pixel before the line as WHITE; padded with sentinels at w."""
    out = []
    prev = 0
    for i in range(w):
        if line[i] != prev:
            out.append(i)
            prev = line[i]
    out.extend([w, w, w, w])
    return out


def _encode_2d_line(bw: MsbWriter, line: list[int], ref: list[int],
                    width: int) -> None:
    """One line's T.4/T.6 two-dimensional coding against ``ref`` —
    shared verbatim by G4 (T.6, every line) and mixed 2D G3 (T.4 §4.2,
    the lines a 0 tag bit marks)."""
    rc = _changes(ref, width)
    cc = _changes(line, width)
    a0, color = -1, 0
    ci = 0  # index into cc of the next change > a0
    while a0 < width:
        # a1: next change in the coding line to the right of a0
        while ci < len(cc) and (cc[ci] <= a0 if a0 >= 0 else False):
            ci += 1
        a1 = cc[ci] if ci < len(cc) else width
        # b1: first ref change > a0 with color opposite to a0's
        # color (i.e. marking a white->black change iff color==0):
        # ref changes alternate starting white->black at even index
        bi = 0
        while bi < len(rc) and (rc[bi] <= a0 or (bi % 2) != color):
            bi += 1
        b1 = rc[bi] if bi < len(rc) else width
        b2 = rc[bi + 1] if bi + 1 < len(rc) else width
        if b2 < a1:
            _put(bw, _MODE_PASS)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            d = a1 - b1
            _put(bw, _MODE_V0 if d == 0 else
                 (_MODE_VR[d] if d > 0 else _MODE_VL[-d]))
            a0 = a1
            color ^= 1
            ci += 1
        else:
            a2 = cc[ci + 1] if ci + 1 < len(cc) else width
            _put(bw, _MODE_H)
            start = max(a0, 0)
            _put_run(bw, a1 - start, white=color == 0)
            _put_run(bw, a2 - a1, white=color == 1)
            a0 = a2
            ci += 2


def encode_g4(bits: list[int], width: int, height: int) -> bytes:
    """T.6 2D (MMR) encode of a 1=black raster; EOFB terminated."""
    if len(bits) != width * height:
        raise ValueError("ccitt: raster size disagrees with dimensions")
    bw = MsbWriter()
    ref = [0] * width
    for y in range(height):
        line = bits[y * width : (y + 1) * width]
        _encode_2d_line(bw, line, ref, width)
        ref = line
    _put(bw, _EOFB)
    return bw.getvalue()


def _read_run(br: MsbReader, white: bool) -> int:
    table = _WHITE_DEC if white else _BLACK_DEC
    total = 0
    while True:
        code = ""
        while code not in table:
            if len(code) > 13:
                raise ValueError(
                    f"ccitt: unknown {'white' if white else 'black'} "
                    f"run code {code!r}"
                )
            code += _take(br)
        run = table[code]
        total += run
        if run < 64:  # terminating code ends the run
            return total


def decode_g4(data: bytes, width: int, height: int | None = None) -> list[int]:
    """T.6 2D decode -> 1=black raster (row-major list of 0/1).  With
    ``height`` given, decodes exactly that many rows (the PDF /Rows
    shape); otherwise decodes until EOFB."""
    if width <= 0:
        raise ValueError("ccitt: width must be positive")
    br = MsbReader(data)
    out: list[int] = []
    ref = [0] * width
    y = 0
    while height is None or y < height:
        # EOFB probe when height is open-ended
        if height is None:
            mark = br.pos
            try:
                probe = "".join(_take(br) for _ in range(24))
            except ValueError:
                probe = ""
            br.pos = mark
            if probe == _EOFB or br.pos >= len(br.data) * 8:
                break
        line = _decode_2d_line(br, ref, width)
        out.extend(line)
        ref = line
        y += 1
    return out


def _decode_2d_line(br: MsbReader, ref: list[int], width: int) -> list[int]:
    """Decode one two-dimensionally-coded line against ``ref`` —
    shared by G4 and mixed 2D G3."""
    line = [0] * width
    rc = _changes(ref, width)
    a0, color = -1, 0

    def fill(frm: int, to: int, col: int) -> None:
        for i in range(max(frm, 0), min(to, width)):
            line[i] = col

    while a0 < width:
        code = _take(br)
        if code == "1":  # V0
            mode, d = "V", 0
        else:
            code += _take(br)
            code += _take(br)
            if code == "011":
                mode, d = "V", 1
            elif code == "010":
                mode, d = "V", -1
            elif code == "001":
                mode, d = "H", 0
            else:  # 000...
                code += _take(br)
                if code == "0001":
                    mode, d = "P", 0
                else:
                    code += _take(br)
                    code += _take(br)
                    if code == "000011":
                        mode, d = "V", 2
                    elif code == "000010":
                        mode, d = "V", -2
                    else:
                        code += _take(br)
                        if code == "0000011":
                            mode, d = "V", 3
                        elif code == "0000010":
                            mode, d = "V", -3
                        else:
                            raise ValueError(
                                f"ccitt: unknown 2D mode code {code!r}"
                            )
        bi = 0
        while bi < len(rc) and (rc[bi] <= a0 or (bi % 2) != color):
            bi += 1
        b1 = rc[bi] if bi < len(rc) else width
        b2 = rc[bi + 1] if bi + 1 < len(rc) else width
        if mode == "P":
            fill(a0, b2, color)
            a0 = b2
        elif mode == "V":
            a1 = b1 + d
            if a1 < 0 or a1 > width:
                raise ValueError("ccitt: vertical move outside the row")
            fill(a0, a1, color)
            a0 = a1
            color ^= 1
        else:  # horizontal: two MH runs of current then opposite color
            start = max(a0, 0)
            r1 = _read_run(br, white=color == 0)
            r2 = _read_run(br, white=color == 1)
            if start + r1 + r2 > width:
                raise ValueError("ccitt: horizontal runs overflow the row")
            if r1 + r2 == 0:
                raise ValueError("ccitt: empty horizontal pair")
            fill(start, start + r1, color)
            fill(start + r1, start + r1 + r2, color ^ 1)
            a0 = start + r1 + r2
    return line


def pack_rows(bits: list[int], width: int) -> bytes:
    """Pack a 0/1 raster into the PDF image-data layout: 1 bit per
    pixel, each ROW padded to a byte boundary, MSB first."""
    if width <= 0 or len(bits) % width:
        raise ValueError("ccitt: raster size disagrees with width")
    out = bytearray()
    for y in range(len(bits) // width):
        row = bits[y * width : (y + 1) * width]
        acc, n = 0, 0
        for b in row:
            acc = (acc << 1) | (b & 1)
            n += 1
            if n == 8:
                out.append(acc)
                acc, n = 0, 0
        if n:
            out.append(acc << (8 - n))
    return bytes(out)


# --------------------------------------------- T.4 1D (G3, PDF K = 0)

_EOL = "000000000001"


def encode_g3_1d(bits: list[int], width: int, height: int,
                 byte_align: bool = False) -> bytes:
    """ITU-T T.4 one-dimensional (MH) encode — the PDF K=0 shape: each
    row is an alternating white/black run sequence starting with a
    (possibly zero-length) white run, EOL before every row (the T.4
    framing real G3 producers emit).  ``byte_align`` pads each row's
    EOL to start on a byte boundary — PDF's /EncodedByteAlign, the
    convention scanner output commonly carries."""
    if len(bits) != width * height:
        raise ValueError("ccitt: raster size disagrees with dimensions")
    bw = MsbWriter()
    for y in range(height):
        line = bits[y * width : (y + 1) * width]
        if byte_align:
            bw.write(0, -bw.tell() % 8)  # zero fill dies inside the EOL probe
        _put(bw, _EOL)
        _encode_1d_row(bw, line)
    return bw.getvalue()


def _encode_1d_row(bw: MsbWriter, line: list[int]) -> None:
    """One T.4 MH row: alternating white/black runs, the first white
    run zero-length when the row starts black."""
    runs = []
    cur, n = 0, 0
    for px in line:
        if px == cur:
            n += 1
        else:
            runs.append(n)
            cur, n = px, 1
    runs.append(n)
    for i, run in enumerate(runs):
        _put_run(bw, run, white=i % 2 == 0)


def _decode_1d_row(br: MsbReader, width: int) -> list[int]:
    row = [0] * width
    pos, white = 0, True
    while pos < width:
        run = _read_run(br, white=white)
        if pos + run > width:
            raise ValueError("ccitt: 1D run overflows the row")
        if not white:
            for i in range(pos, pos + run):
                row[i] = 1
        pos += run
        white = not white
    return row


def decode_g3_1d(data: bytes, width: int, height: int,
                 byte_align: bool = False) -> list[int]:
    """T.4 1D decode -> 1=black raster.  EOL codes are consumed at row
    boundaries when present (and required fill bits skipped with them);
    with ``byte_align`` (PDF /EncodedByteAlign) each row additionally
    starts on a byte boundary.  Rows must sum exactly to ``width`` or
    the stream is torn."""
    br = MsbReader(data)
    out: list[int] = []

    def at_eol() -> bool:
        # an EOL is >= 11 zeros then a 1 (extra zeros are T.4 fill
        # bits, which ride in front of the EOL and die with it)
        mark = br.pos
        zeros = 0
        try:
            while (b := _take(br)) == "0":
                zeros += 1
        except ValueError:
            br.pos = mark
            return False
        if b == "1" and zeros >= 11:
            return True
        br.pos = mark
        return False

    for _y in range(height):
        if byte_align:
            br.pos += -br.pos % 8
        # T.4 allows zero-fill before each EOL; consume any EOLs (and
        # the fill bits they absorb) at the row boundary
        while at_eol():
            pass
        out.extend(_decode_1d_row(br, width))
    return out


# ----------------------------------------- T.4 mixed 2D (G3, PDF K > 0)


def encode_g3_2d(bits: list[int], width: int, height: int, k: int,
                 byte_align: bool = False) -> bytes:
    """ITU-T T.4 §4.2 two-dimensional (MR) encode — the PDF K>0 fax
    shape: every row is framed by EOL plus a TAG BIT (1 = the next row
    is 1D MH coded, 0 = 2D coded against the previous row), every
    ``k``-th row coded 1D so transmission damage cannot propagate more
    than k rows — the error-confinement rule fax machines transmit
    with.  The 2D rows reuse the exact vertical/horizontal/pass mode
    coder G4 uses (T.6 is T.4's 2D scheme with the framing removed)."""
    if len(bits) != width * height:
        raise ValueError("ccitt: raster size disagrees with dimensions")
    if k < 1:
        raise ValueError("ccitt: K must be >= 1 for 2D G3")
    bw = MsbWriter()
    ref = [0] * width
    for y in range(height):
        line = bits[y * width : (y + 1) * width]
        if byte_align:
            bw.write(0, -bw.tell() % 8)
        _put(bw, _EOL)
        one_d = y % k == 0
        _put(bw, "1" if one_d else "0")
        if one_d:
            _encode_1d_row(bw, line)
        else:
            _encode_2d_line(bw, line, ref, width)
        ref = line
    return bw.getvalue()


def decode_g3_2d(data: bytes, width: int, height: int,
                 byte_align: bool = False) -> list[int]:
    """T.4 mixed 2D decode -> 1=black raster: each row's EOL is
    followed by the tag bit that says HOW the row is coded; the
    decoder follows the tags (K itself never rides in the stream — it
    is an encoder-side bound on 2D run length)."""
    br = MsbReader(data)
    out: list[int] = []
    ref = [0] * width

    def consume_eol() -> None:
        zeros = 0
        while (b := _take(br)) == "0":
            zeros += 1
        if zeros < 11:
            raise ValueError("ccitt: expected EOL before a 2D-G3 row")

    for _y in range(height):
        if byte_align:
            br.pos += -br.pos % 8
        consume_eol()
        tag = _take(br)
        if tag == "1":
            row = _decode_1d_row(br, width)
        else:
            row = _decode_2d_line(br, ref, width)
        out.extend(row)
        ref = row
    return out

"""WebP VP8L lossless codec — own pure-stdlib implementation, written
from the public "WebP Lossless Bitstream Specification".

Why this exists: WebP is the #2 crawled-web image format and its
lossless half (VP8L) is stdlib-tractable — canonical prefix codes,
LZ77 backward references, a color cache, and four reversible
transforms — so the FLAC discipline applies: the engine's own encoder
stages genuine .webp files and the oracle demands EXACT pixel
recovery, because the codec is lossless.  Lossy VP8 stays the
documented loud seam (boolean-arithmetic entropy decode belongs to an
external codec).

Decoder surface (spec order):

- LSB-first bit reader over the VP8L chunk; 0x2F signature; packed
  14-bit dimensions.
- All four TRANSFORMS, inverted in reverse stream order: predictor
  (14 modes, per-tile mode sub-image, the spec's edge rules), color
  (per-tile ColorTransformElement with the signed ``(t*c)>>5``
  delta), subtract-green, and color-indexing (delta-coded palette,
  sub-byte index BUNDLING for palettes of ≤16/≤4/≤2 colors).
- Entropy layer: "simple" 1-/2-symbol prefix codes and normal codes
  via the code-length code (kCodeLengthCodeOrder, repeat symbols
  16/17/18), canonical codes read MSB-first (the DEFLATE convention);
  optional META prefix image selecting among prefix-code groups per
  tile; optional COLOR CACHE (``(0x1e35a7bd * argb) >> (32-bits)``);
  green symbols < 256 are literals, 256..279 LZ77 lengths (the
  ``(2+(s&1))<<extra`` prefix value coding), ≥ 280 cache indexes;
  distances map through the spec's 120-entry 2D neighbor table.

Encoder surface (fixture staging, real compression): histogram-built
canonical Huffman codes per channel (simple codes when ≤2 symbols),
optional subtract-green, optional delta-coded palette with bundling,
optional distance-1 run-length LZ77, optional color cache.

Honesty note on cross-validation: unlike FLAC (pinned to the RFC test
vectors) and JPEG/AES (cross-validated against javax implementations),
NO independent VP8L codec exists in this environment — so conformance
is pinned by spec-derived unit fixtures plus encoder↔decoder
roundtrips over every feature combination, and the foreign-file seams
that self-roundtrip cannot adjudicate (the Select predictor tie rule,
the rightmost-column top-right convention) are documented at their
sites.  Damage (bad signature, over-subscribed prefix code, reference
before the window, truncated stream, out-of-range cache or palette
index) raises ValueError — one file costs one record, never the job.
"""

from __future__ import annotations

import heapq

from .bitio import EXHAUSTED, LsbReader, LsbWriter

# ------------------------------------------------------ canonical codes

_CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11,
                      12, 13, 14, 15)


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for nonzero lengths, canonical order
    (shorter first, then by symbol), with completeness enforced —
    an over- or under-subscribed code is corrupt data."""
    nz = sorted(
        (length, sym) for sym, length in enumerate(lengths) if length
    )
    if not nz:
        raise ValueError("vp8l: prefix code with no symbols")
    if len(nz) == 1:
        return {nz[0][1]: (0, 0)}  # single-symbol: zero bits per use
    code = 0
    prev_len = nz[0][0]
    out = {}
    kraft = 0
    for length, sym in nz:
        code <<= length - prev_len
        prev_len = length
        out[sym] = (code, length)
        kraft += 1 << (15 - length)
        code += 1
    if kraft != 1 << 15:
        raise ValueError("vp8l: prefix code is not complete")
    return out


def _reversed(code: int, length: int) -> int:
    """The low ``length`` bits of ``code`` in reverse order: prefix-code
    bits go MSB-of-code first into the LSB-first stream."""
    return int(f"{code:0{length}b}"[::-1], 2)


class _Decoder:
    """Canonical decoder with a one-level 8-bit lookup table (r15; the
    bit-by-bit walk made symbol decode the hottest frame in the corpus
    kernel's profile). Codes ≤ 8 bits — all of them on fixture-scale
    images — resolve in one table probe; longer codes fall back to the
    original walk. Identical symbol stream, identical error surface:
    the LUT index is a zero-padded peek, codes are prefix-free, and a
    hit whose code extends past the data raises the same truncation
    error ``LsbReader.read`` raises on the walk."""

    __slots__ = ("by_len", "single", "lut")

    def __init__(self, codes: dict[int, tuple[int, int]]):
        self.by_len: dict[tuple[int, int], int] = {}
        self.single: int | None = None
        lut: list[tuple[int, int] | None] = [None] * 256
        for sym, (code, length) in codes.items():
            if length == 0:
                self.single = sym
            self.by_len[(length, code)] = sym
            if 0 < length <= 8:
                base = _reversed(code, length)
                entry = (sym, length)
                for high in range(1 << (8 - length)):
                    lut[base | (high << length)] = entry
        self.lut = lut

    def read(self, br: LsbReader) -> int:
        if self.single is not None:
            return self.single
        data = br.data
        pos = br.pos
        byte = pos >> 3
        # zero-padded 8-bit peek: pad bits only ever select an entry the
        # truncation check below rejects
        window = int.from_bytes(data[byte : byte + 2], "little") >> (pos & 7)
        hit = self.lut[window & 0xFF]
        if hit is not None:
            sym, length = hit
            if (pos + length - 1) >> 3 >= len(data):
                raise ValueError(EXHAUSTED)
            br.pos = pos + length
            return sym
        code = 0
        for length in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.by_len.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("vp8l: invalid prefix code in stream")


def _read_prefix_code(br: LsbReader, alphabet_size: int) -> _Decoder:
    if br.read(1):  # simple code: 1 or 2 symbols
        num_symbols = br.read(1) + 1
        if br.read(1):
            first = br.read(8)
        else:
            first = br.read(1)
        syms = [first]
        if num_symbols == 2:
            syms.append(br.read(8))
        for s in syms:
            if s >= alphabet_size:
                raise ValueError("vp8l: simple-code symbol out of range")
        if num_symbols == 1:
            return _Decoder({syms[0]: (0, 0)})
        return _Decoder({syms[0]: (0, 1), syms[1]: (1, 1)})
    num_code_lengths = 4 + br.read(4)
    if num_code_lengths > len(_CODE_LENGTH_ORDER):
        raise ValueError("vp8l: too many code-length codes")
    cl_lengths = [0] * 19
    for i in range(num_code_lengths):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_dec = _Decoder(_canonical_codes(cl_lengths))
    # optional explicit total: max_symbol limits how many lengths follow
    if br.read(1):
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_nonzero = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_dec.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_nonzero = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym >= alphabet_size:
                    raise ValueError("vp8l: code-length repeat overflow")
                lengths[sym] = prev_nonzero
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet_size:
            raise ValueError("vp8l: code-length repeat overflow")
    return _Decoder(_canonical_codes(lengths))


# --------------------------------------------------------- value coding


def _prefix_value(br: LsbReader, sym: int) -> int:
    """LZ77 length / distance-code value coding: symbols 0..3 are the
    values 1..4; beyond that each symbol carries extra bits."""
    if sym < 4:
        return sym + 1
    extra = (sym - 2) >> 1
    offset = (2 + (sym & 1)) << extra
    return offset + br.read(extra) + 1


def _write_prefix_value(value: int) -> tuple[int, int, int]:
    """value -> (symbol, extra_bits_value, extra_bits_count)."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    offset = (2 + ((v >> extra) & 1)) << extra
    sym = 2 * extra + ((v >> extra) & 1) + 2
    return sym, value - offset - 1, extra


# the spec's 120-entry 2D neighbor map for short distances: candidates
# (dx in -8..8, dy in 0..7, future pixels excluded), ordered by squared
# distance, then nearer rows last (larger dy first within a tie), then
# positive dx before negative; the closest 120 make the table.  The
# leading 36 entries are pinned against the spec's literal table in
# tests/test_vp8l.py.
_DIST_MAP: list[tuple[int, int]] = sorted(
    [(dx, dy) for dy in range(8) for dx in range(-8, 9)
     if dy > 0 or dx > 0],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], 0 if p[0] > 0 else 1),
)[:120]


def _plane_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    # spec / libwebp PlaneCodeToDistance: dist = yoffset*xsize + xoffset
    # (xoffset SIGNED — code 3 (1,1) is xsize+1, code 4 (-1,1) xsize-1)
    return max(1, dy * xsize + dx)


# ----------------------------------------------------------- color cache


def _cache_key(argb: int, bits: int) -> int:
    return ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - bits)


# -------------------------------------------------------------- decoder


def _div_round_up(a: int, b: int) -> int:
    return (a + b - 1) // b


def _decode_image_stream(br: LsbReader, w: int, h: int, level0: bool):
    """Decode one entropy-coded image; returns (pixels, transforms) —
    pixels row-major ARGB ints at the (possibly transform-reduced)
    width, transforms only at level 0."""
    transforms = []
    xsize = w
    if level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("vp8l: duplicate transform")
            seen.add(ttype)
            if ttype == 0:  # predictor
                size_bits = br.read(3) + 2
                tw = _div_round_up(xsize, 1 << size_bits)
                th = _div_round_up(h, 1 << size_bits)
                sub, _ = _decode_image_stream(br, tw, th, False)
                transforms.append(("predictor", size_bits, sub))
            elif ttype == 1:  # color transform
                size_bits = br.read(3) + 2
                tw = _div_round_up(xsize, 1 << size_bits)
                th = _div_round_up(h, 1 << size_bits)
                sub, _ = _decode_image_stream(br, tw, th, False)
                transforms.append(("color", size_bits, sub))
            elif ttype == 2:
                transforms.append(("subtract_green",))
            else:  # color indexing
                num_colors = br.read(8) + 1
                if num_colors <= 2:
                    width_bits = 3
                elif num_colors <= 4:
                    width_bits = 2
                elif num_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                pal_deltas, _ = _decode_image_stream(br, num_colors, 1,
                                                     False)
                palette = []
                prev = 0
                for d in pal_deltas:
                    cur = 0
                    for shift in (0, 8, 16, 24):
                        comp = (((prev >> shift) & 0xFF)
                                + ((d >> shift) & 0xFF)) & 0xFF
                        cur |= comp << shift
                    palette.append(cur)
                    prev = cur
                transforms.append(("palette", width_bits, palette))
                xsize = _div_round_up(xsize, 1 << width_bits)

    cache_bits = 0
    cache: list[int] = []
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("vp8l: color-cache bits out of range")
        cache = [0] * (1 << cache_bits)

    meta = None
    huff_bits = 0
    num_groups = 1
    if level0 and br.read(1):
        huff_bits = br.read(3) + 2
        mw = _div_round_up(xsize, 1 << huff_bits)
        mh = _div_round_up(h, 1 << huff_bits)
        meta, _ = _decode_image_stream(br, mw, mh, False)
        num_groups = max(
            ((p >> 8) & 0xFFFF) for p in meta
        ) + 1 if meta else 1

    green_size = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        groups.append((
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),   # red
            _read_prefix_code(br, 256),   # blue
            _read_prefix_code(br, 256),   # alpha
            _read_prefix_code(br, 40),    # distance
        ))

    npix = xsize * h
    pixels: list[int] = []
    mw = _div_round_up(xsize, 1 << huff_bits) if meta else 0

    def group_at(idx: int):
        if meta is None:
            return groups[0]
        x, y = idx % xsize, idx // xsize
        mp = meta[(y >> huff_bits) * mw + (x >> huff_bits)]
        g = (mp >> 8) & 0xFFFF
        return groups[g]

    while len(pixels) < npix:
        gdec, rdec, bdec, adec, ddec = group_at(len(pixels))
        s = gdec.read(br)
        if s < 256:
            r = rdec.read(br)
            b = bdec.read(br)
            a = adec.read(br)
            argb = (a << 24) | (r << 16) | (s << 8) | b
            pixels.append(argb)
            if cache_bits:
                cache[_cache_key(argb, cache_bits)] = argb
        elif s < 280:
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, ddec.read(br))
            dist = _plane_distance(dist_code, xsize)
            if dist > len(pixels):
                raise ValueError("vp8l: backward reference before start")
            if len(pixels) + length > npix:
                raise ValueError("vp8l: backward reference overruns image")
            base = len(pixels) - dist
            for i in range(length):
                argb = pixels[base + i]
                pixels.append(argb)
                if cache_bits:
                    cache[_cache_key(argb, cache_bits)] = argb
        else:
            idx = s - 280
            if not cache_bits or idx >= len(cache):
                raise ValueError("vp8l: color-cache index out of range")
            pixels.append(cache[idx])
    return pixels, transforms


def _avg2(a: int, b: int) -> int:
    out = 0
    for shift in (0, 8, 16, 24):
        out |= ((((a >> shift) & 0xFF) + ((b >> shift) & 0xFF)) >> 1) << shift
    return out


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:  # Select — tie rule self-consistent, see module doc
        p_l = p_t = 0
        for shift in (0, 8, 16, 24):
            pc = (((left >> shift) & 0xFF) + ((top >> shift) & 0xFF)
                  - ((tl >> shift) & 0xFF))
            p_l += abs(pc - ((left >> shift) & 0xFF))
            p_t += abs(pc - ((top >> shift) & 0xFF))
        return left if p_l < p_t else top
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for shift in (0, 8, 16, 24):
            out |= _clamp(((left >> shift) & 0xFF) + ((top >> shift) & 0xFF)
                          - ((tl >> shift) & 0xFF)) << shift
        return out
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(left, top)
        out = 0
        for shift in (0, 8, 16, 24):
            c = (ave >> shift) & 0xFF
            d = (tl >> shift) & 0xFF
            q = c - d  # spec's C division truncates toward zero
            half = q // 2 if q >= 0 else -((-q) // 2)
            out |= _clamp(c + half) << shift
        return out
    raise ValueError(f"vp8l: predictor mode {mode} out of range")


def _add_pixels(a: int, b: int) -> int:
    out = 0
    for shift in (0, 8, 16, 24):
        out |= ((((a >> shift) & 0xFF) + ((b >> shift) & 0xFF)) & 0xFF) << shift
    return out


def _delta(t: int, c: int) -> int:
    """ColorTransformDelta: both args as SIGNED 8-bit, product >> 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _apply_inverse_transforms(pixels: list, w: int, h: int,
                              transforms: list) -> list:
    for t in reversed(transforms):
        kind = t[0]
        if kind == "subtract_green":
            for i, p in enumerate(pixels):
                g = (p >> 8) & 0xFF
                r = (((p >> 16) & 0xFF) + g) & 0xFF
                b = ((p & 0xFF) + g) & 0xFF
                pixels[i] = (p & 0xFF00FF00) | (r << 16) | b
        elif kind == "predictor":
            size_bits, sub = t[1], t[2]
            tw = _div_round_up(w, 1 << size_bits)
            out = pixels
            for y in range(h):
                for x in range(w):
                    i = y * w + x
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = out[i - 1]          # left
                    elif x == 0:
                        pred = out[i - w]          # top
                    else:
                        mode = (sub[(y >> size_bits) * tw
                                    + (x >> size_bits)] >> 8) & 0xFF
                        left = out[i - 1]
                        top = out[i - w]
                        tl = out[i - w - 1]
                        # rightmost column: no real top-right exists;
                        # use top (self-consistent convention, see
                        # module docstring)
                        tr = out[i - w + 1] if x + 1 < w else top
                        pred = _predict(mode, left, top, tl, tr)
                    out[i] = _add_pixels(out[i], pred)
        elif kind == "color":
            size_bits, sub = t[1], t[2]
            tw = _div_round_up(w, 1 << size_bits)
            for y in range(h):
                for x in range(w):
                    i = y * w + x
                    te = sub[(y >> size_bits) * tw + (x >> size_bits)]
                    g2r = te & 0xFF
                    g2b = (te >> 8) & 0xFF
                    r2b = (te >> 16) & 0xFF
                    p = pixels[i]
                    g = (p >> 8) & 0xFF
                    r = (((p >> 16) & 0xFF) + _delta(g2r, g)) & 0xFF
                    b = ((p & 0xFF) + _delta(g2b, g) + _delta(r2b, r)) & 0xFF
                    pixels[i] = (p & 0xFF00FF00) | (r << 16) | b
        elif kind == "palette":
            width_bits, palette = t[1], t[2]
            if width_bits == 0:
                mapped = []
                for p in pixels:
                    idx = (p >> 8) & 0xFF
                    if idx >= len(palette):
                        raise ValueError("vp8l: palette index out of range")
                    mapped.append(palette[idx])
                pixels = mapped
            else:
                per = 1 << width_bits           # indices per packed pixel
                bits = 8 >> width_bits          # bits per index
                packed_w = _div_round_up(w, per)
                mapped = []
                for y in range(h):
                    for x in range(w):
                        p = pixels[y * packed_w + (x >> width_bits)]
                        g = (p >> 8) & 0xFF
                        idx = (g >> ((x % per) * bits)) & ((1 << bits) - 1)
                        if idx >= len(palette):
                            raise ValueError(
                                "vp8l: palette index out of range")
                        mapped.append(palette[idx])
                pixels = mapped
        else:  # pragma: no cover - construction guarantees the four kinds
            raise ValueError(f"vp8l: unknown transform {kind}")
    return pixels


def decode_vp8l(data: bytes) -> tuple[int, int, list]:
    """Decode a raw VP8L chunk payload → (width, height, ARGB pixel
    list, row-major)."""
    if not data or data[0] != 0x2F:
        raise ValueError("vp8l: bad signature")
    br = LsbReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("vp8l: reserved version bits set")
    pixels, transforms = _decode_image_stream(br, w, h, True)
    return w, h, _apply_inverse_transforms(pixels, w, h, transforms)


def decode_webp_lossless(blob: bytes) -> tuple[int, int, list]:
    """Decode a lossless .webp container (VP8L chunk, flat or inside a
    VP8X layout) → (width, height, ARGB pixels)."""
    from .webp import _chunks

    for fourcc, payload in _chunks(blob):
        if fourcc == b"VP8L":
            return decode_vp8l(payload)
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "webp: lossy VP8 payload decode needs an external codec "
                "— VP8L (lossless) decodes natively"
            )
    raise ValueError("webp: no VP8L chunk present")


# -------------------------------------------------------------- encoder


def _huffman_lengths(freqs: dict[int, int]) -> dict[int, int]:
    """Code lengths from symbol frequencies (plain Huffman; fixture
    alphabets are far below the depth-15 limit, asserted anyway)."""
    if not freqs:
        raise ValueError("vp8l: empty histogram")
    if len(freqs) == 1:
        return {next(iter(freqs)): 0}
    heap = [(n, sym, None, None) for sym, n in freqs.items()]
    heapq.heapify(heap)
    counter = 0
    while len(heap) > 1:
        a = heapq.heappop(heap)
        b = heapq.heappop(heap)
        counter += 1
        heapq.heappush(heap, (a[0] + b[0], 1 << 20 | counter, a, b))
    lengths: dict[int, int] = {}

    def walk(node, depth):
        if node[2] is None:
            lengths[node[1]] = max(depth, 1)
            return
        walk(node[2], depth + 1)
        walk(node[3], depth + 1)

    walk(heap[0], 0)
    if max(lengths.values()) > 15:
        raise ValueError("vp8l: fixture histogram too deep")
    return lengths


def _encoder_codes(lengths_by_sym: dict[int, int]) -> dict:
    """symbol -> (code, length) ready for ``LsbWriter.write``: prefix-code
    bits go MSB-of-code first, so each canonical code is bit-reversed."""
    if all(length == 0 for length in lengths_by_sym.values()):
        (sym,) = lengths_by_sym
        return {sym: (0, 0)}  # single-symbol code: zero bits per use
    full = [0] * (max(lengths_by_sym) + 1)
    for s, length in lengths_by_sym.items():
        full[s] = length
    return {
        sym: (_reversed(code, length), length)
        for sym, (code, length) in _canonical_codes(full).items()
    }


def _write_prefix_code(bw: LsbWriter, lengths_by_sym: dict[int, int],
                       alphabet_size: int) -> None:
    syms = sorted(lengths_by_sym)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)                      # simple
        bw.write(len(syms) - 1, 1)
        if syms[0] >= 2:
            bw.write(1, 1)
            bw.write(syms[0], 8)
        else:
            bw.write(0, 1)
            bw.write(syms[0], 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)                          # normal code
    lengths = [0] * alphabet_size
    for s, length in lengths_by_sym.items():
        lengths[s] = length
    used_cl = sorted(set(lengths[: max(lengths_by_sym) + 1]) | {0})
    cl_freq = {cl: 1 for cl in used_cl}
    # encode every length literally (no 16/17/18 repeats) with a
    # code-length code over the lengths that actually occur
    trimmed = lengths[: max(lengths_by_sym) + 1]
    for cl in trimmed:
        cl_freq[cl] = cl_freq.get(cl, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq)
    if len(cl_lengths) == 1:
        # a single-symbol code-length code cannot be canonical here;
        # pad with an unused sibling
        only = next(iter(cl_lengths))
        sibling = 1 if only != 1 else 2
        cl_lengths = {only: 1, sibling: 1}
    if max(cl_lengths.values()) > 7:
        raise ValueError("vp8l: code-length code too deep")
    order_pos = {s: i for i, s in enumerate(_CODE_LENGTH_ORDER)}
    num_cl = max(order_pos[s] for s in cl_lengths) + 1
    num_cl = max(num_cl, 4)
    bw.write(num_cl - 4, 4)
    for i in range(num_cl):
        bw.write(cl_lengths.get(_CODE_LENGTH_ORDER[i], 0), 3)
    bw.write(0, 1)                          # no explicit max_symbol
    cl_codes = _encoder_codes(cl_lengths)
    for cl in trimmed:
        bw.write(*cl_codes[cl])
    # remaining symbols implicitly zero: alphabet tail needs nothing —
    # the reader stops at alphabet_size; but our loop above wrote only
    # the trimmed prefix, so emit zero-lengths for the tail via one
    # symbol at a time only if the tail is nonempty
    for _ in range(alphabet_size - len(trimmed)):
        bw.write(*cl_codes[0])


def _forward_predict(pixels: list, w: int, h: int, modes: list,
                     size_bits: int) -> list:
    """Forward predictor pass: residual = pixel − prediction per
    channel mod 256, predictions reading the FINAL pixels (matching
    the decoder's progressive reconstruction) with the spec's edge
    rules (top-left black, top row L, left column T)."""
    tw = _div_round_up(w, 1 << size_bits)
    out = []
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[i - 1]
            elif x == 0:
                pred = pixels[i - w]
            else:
                mode = modes[(y >> size_bits) * tw + (x >> size_bits)]
                tr = pixels[i - w + 1] if x + 1 < w else pixels[i - w]
                pred = _predict(mode, pixels[i - 1], pixels[i - w],
                                pixels[i - w - 1], tr)
            r = 0
            for shift in (0, 8, 16, 24):
                r |= ((((pixels[i] >> shift) & 0xFF)
                       - ((pred >> shift) & 0xFF)) & 0xFF) << shift
            out.append(r)
    return out


def encode_vp8l(width: int, height: int, pixels: list,
                subtract_green: bool = False, palette: bool = False,
                use_lz77: bool = False, cache_bits: int = 0,
                predictor_modes: list | None = None,
                predictor_size_bits: int = 3) -> bytes:
    """Encode row-major ARGB ``pixels`` as a raw VP8L chunk payload.
    Real canonical-Huffman entropy coding over the actual symbol
    histogram; optional subtract-green transform, delta-coded palette
    (with sub-byte bundling when small), distance-1 run-length LZ77,
    color cache, and the PREDICTOR transform (``predictor_modes``:
    one mode 0..13 per tile of ``1 << predictor_size_bits`` pixels,
    residual-coded exactly as the spec's inverse expects)."""
    if len(pixels) != width * height:
        raise ValueError("vp8l: pixel count does not match dimensions")
    if palette and (subtract_green or use_lz77 or predictor_modes):
        raise ValueError("vp8l: fixture encoder palettes stand alone")
    bw = LsbWriter()
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1, 1)   # alpha may be present
    bw.write(0, 3)   # version

    work = list(pixels)
    xsize = width
    if predictor_modes is not None:
        tw = _div_round_up(width, 1 << predictor_size_bits)
        th = _div_round_up(height, 1 << predictor_size_bits)
        if len(predictor_modes) != tw * th:
            raise ValueError("vp8l: one predictor mode per tile required")
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(predictor_size_bits - 2, 3)
        _encode_image_stream(
            bw, [0xFF000000 | (m << 8) for m in predictor_modes]
        )
        work = _forward_predict(work, width, height, predictor_modes,
                                predictor_size_bits)
    if subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)
        for i, p in enumerate(work):
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            work[i] = (p & 0xFF00FF00) | (r << 16) | b
    if palette:
        colors = []
        index = {}
        for p in work:
            if p not in index:
                index[p] = len(colors)
                colors.append(p)
        if len(colors) > 256:
            raise ValueError("vp8l: more than 256 colors for palette")
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(len(colors) - 1, 8)
        # palette rides as a delta-coded 1-row image
        deltas = []
        prev = 0
        for c in colors:
            d = 0
            for shift in (0, 8, 16, 24):
                comp = (((c >> shift) & 0xFF) - ((prev >> shift) & 0xFF)) \
                    & 0xFF
                d |= comp << shift
            deltas.append(d)
            prev = c
        _encode_image_stream(bw, deltas)
        nc = len(colors)
        width_bits = 3 if nc <= 2 else (2 if nc <= 4 else
                                        (1 if nc <= 16 else 0))
        if width_bits:
            per = 1 << width_bits
            bits = 8 >> width_bits
            packed_w = _div_round_up(width, per)
            packed = []
            for y in range(height):
                for px in range(packed_w):
                    g = 0
                    for k in range(per):
                        x = px * per + k
                        if x < width:
                            g |= index[work[y * width + x]] << (k * bits)
                    packed.append(0xFF000000 | (g << 8))
            work = packed
            xsize = packed_w
        else:
            work = [0xFF000000 | (index[p] << 8) for p in work]
    bw.write(0, 1)  # end of transforms

    _encode_image_stream(bw, work, use_lz77=use_lz77,
                         cache_bits=cache_bits, level0=True)
    payload = bytes([0x2F]) + bw.getvalue()
    return payload


def _encode_image_stream(bw: LsbWriter, pixels: list,
                         use_lz77: bool = False, cache_bits: int = 0,
                         level0: bool = False) -> None:
    """Entropy-code ``pixels`` (no transforms at this level): color
    cache bit, no meta codes, five prefix codes from the real symbol
    histogram, then the symbol stream."""
    # tokenize first so histograms reflect the actual emission
    tokens = []       # ("lit", argb) | ("copy", len, dist) | ("cache", idx)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    i = 0
    n = len(pixels)
    while i < n:
        p = pixels[i]
        if use_lz77 and i > 0 and pixels[i - 1] == p:
            run = 1
            while i + run < n and pixels[i + run] == p:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, 1))
                if cache is not None:
                    cache[_cache_key(p, cache_bits)] = p
                i += run
                continue
        if cache is not None:
            key = _cache_key(p, cache_bits)
            if cache[key] == p:
                tokens.append(("cache", key))
                i += 1
                continue
            cache[key] = p
        tokens.append(("lit", p))
        i += 1

    gfreq: dict[int, int] = {}
    rfreq: dict[int, int] = {}
    bfreq: dict[int, int] = {}
    afreq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    for tok in tokens:
        if tok[0] == "lit":
            p = tok[1]
            gfreq[(p >> 8) & 0xFF] = gfreq.get((p >> 8) & 0xFF, 0) + 1
            rfreq[(p >> 16) & 0xFF] = rfreq.get((p >> 16) & 0xFF, 0) + 1
            bfreq[p & 0xFF] = bfreq.get(p & 0xFF, 0) + 1
            afreq[(p >> 24) & 0xFF] = afreq.get((p >> 24) & 0xFF, 0) + 1
        elif tok[0] == "copy":
            sym, _ev, _eb = _write_prefix_value(tok[1])
            gfreq[256 + sym] = gfreq.get(256 + sym, 0) + 1
            # distance 1 -> neighbor-map code for (dx=1, dy=0)
            dsym, _dv, _db = _write_prefix_value(
                _DIST_MAP.index((1, 0)) + 1)
            dfreq[dsym] = dfreq.get(dsym, 0) + 1
        else:
            gfreq[280 + tok[1]] = gfreq.get(280 + tok[1], 0) + 1
    # prefix codes need at least one symbol; charge unused channels
    # with a zero-frequency literal 0
    for f in (gfreq, rfreq, bfreq, afreq, dfreq):
        if not f:
            f[0] = 1

    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        # meta prefix bit rides only at level 0 (the main ARGB image);
        # sub-images (palette rows here) carry no such bit
        bw.write(0, 1)

    green_size = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    gl = _huffman_lengths(gfreq)
    rl = _huffman_lengths(rfreq)
    bl = _huffman_lengths(bfreq)
    al = _huffman_lengths(afreq)
    dl = _huffman_lengths(dfreq)
    _write_prefix_code(bw, gl, green_size)
    _write_prefix_code(bw, rl, 256)
    _write_prefix_code(bw, bl, 256)
    _write_prefix_code(bw, al, 256)
    _write_prefix_code(bw, dl, 40)
    gc, rc, bc, ac, dc = (_encoder_codes(x) for x in (gl, rl, bl, al, dl))

    def emit(codes, sym):
        bw.write(*codes[sym])

    for tok in tokens:
        if tok[0] == "lit":
            p = tok[1]
            emit(gc, (p >> 8) & 0xFF)
            emit(rc, (p >> 16) & 0xFF)
            emit(bc, p & 0xFF)
            emit(ac, (p >> 24) & 0xFF)
        elif tok[0] == "copy":
            sym, ev, eb = _write_prefix_value(tok[1])
            emit(gc, 256 + sym)
            bw.write(ev, eb)
            dsym, dv, db = _write_prefix_value(_DIST_MAP.index((1, 0)) + 1)
            emit(dc, dsym)
            bw.write(dv, db)
        else:
            emit(gc, 280 + tok[1])


def encode_webp_lossless(width: int, height: int, pixels: list,
                         **kw) -> bytes:
    """Encode ARGB pixels into a complete lossless .webp container."""
    from .webp import _chunk, _riff

    return _riff(_chunk(b"VP8L", encode_vp8l(width, height, pixels, **kw)))


# ------------------------------------------------- animation (ANMF)


def encode_webp_animation_lossless(
    width: int, height: int, frames: list, loop_count: int = 0
) -> bytes:
    """Animated lossless WebP: VP8X + ANIM + one ANMF per frame, each
    wrapping a VP8L-coded SUB-RECT — ``frames`` entries are
    ``(x, y, fw, fh, duration_ms, flags, pixels)`` with x/y even
    (the spec stores them in 2-pixel units) and ``flags`` the spec's
    frame-flags byte: bit 0 = dispose-to-background, bit 1 = the
    blending method B (0 alpha-blend onto the canvas, 1 overwrite)."""
    import struct

    from .webp import _chunk, _riff

    flags = (1 << 1) | (1 << 4)  # animation + alpha-capable canvas
    vp8x = _chunk(
        b"VP8X",
        bytes([flags, 0, 0, 0])
        + (width - 1).to_bytes(3, "little")
        + (height - 1).to_bytes(3, "little"),
    )
    anim = _chunk(b"ANIM", struct.pack("<IH", 0x00000000, loop_count))
    body = vp8x + anim
    for fx, fy, fw, fh, dur, dispose, px in frames:
        if fx % 2 or fy % 2:
            raise ValueError("webp: ANMF frame origin must be even")
        if fx + fw > width or fy + fh > height:
            raise ValueError("webp: ANMF frame exceeds the canvas")
        sub = _chunk(b"VP8L", encode_vp8l(fw, fh, px))
        anmf = (
            (fx // 2).to_bytes(3, "little")
            + (fy // 2).to_bytes(3, "little")
            + (fw - 1).to_bytes(3, "little")
            + (fh - 1).to_bytes(3, "little")
            + int(dur).to_bytes(3, "little")
            + bytes([dispose & 3])
            + sub
        )
        body += _chunk(b"ANMF", anmf)
    return _riff(body)


def _blend_over(src: int, dst: int) -> int:
    """Non-premultiplied 'over' composite of two ARGB pixels, the
    container spec's blending-method B=0 formula:
      out.A   = src.A + dst.A*(1 - src.A)
      out.rgb = (src.rgb*src.A + dst.rgb*dst.A*(1 - src.A)) / out.A
    Integer math with round-half-up; opaque src returns src exactly
    (so the opaque fixture corpus is bit-stable either way)."""
    sa = (src >> 24) & 0xFF
    if sa == 255:
        return src
    if sa == 0:
        return dst
    da = (dst >> 24) & 0xFF
    oa255 = sa * 255 + da * (255 - sa)  # out alpha scaled by 255
    if oa255 == 0:
        return 0
    out = ((oa255 + 127) // 255) << 24
    for shift in (0, 8, 16):
        sc = (src >> shift) & 0xFF
        dc = (dst >> shift) & 0xFF
        num = sc * sa * 255 + dc * da * (255 - sa)
        out |= min(255, (num + oa255 // 2) // oa255) << shift
    return out


def decode_webp_animation_lossless(blob: bytes):
    """Decode an animated lossless WebP → (canvas_w, canvas_h,
    [(duration_ms, composed_canvas_pixels), ...]) with per-frame
    sub-rects COMPOSED onto the running canvas — alpha-blended when
    the frame's blending-method bit B is 0, overwritten when 1 — and
    the dispose-to-background semantics applied between frames (the
    same discipline
    as the animated-GIF decoder: a composition bug is wrong pixels,
    not a parse error).  Lossy (VP8) frame payloads raise the
    documented seam; a frame overflowing the canvas raises."""
    from .webp import _chunks

    canvas_w = canvas_h = None
    canvas: list | None = None
    out = []
    pending_dispose = None  # (x, y, w, h) to clear before next frame
    for fourcc, payload in _chunks(blob):
        if fourcc == b"VP8X":
            canvas_w = int.from_bytes(payload[4:7], "little") + 1
            canvas_h = int.from_bytes(payload[7:10], "little") + 1
            canvas = [0] * (canvas_w * canvas_h)  # transparent
        elif fourcc == b"ANMF":
            if canvas is None:
                raise ValueError("webp: ANMF before VP8X")
            if len(payload) < 16:
                raise ValueError("webp: ANMF header too short")
            fx = int.from_bytes(payload[0:3], "little") * 2
            fy = int.from_bytes(payload[3:6], "little") * 2
            fw = int.from_bytes(payload[6:9], "little") + 1
            fh = int.from_bytes(payload[9:12], "little") + 1
            dur = int.from_bytes(payload[12:15], "little")
            dispose = payload[15] & 1
            # container spec frame flags: bit 1 is the blending method
            # B — 0 means ALPHA-BLEND onto the canvas, 1 means overwrite
            no_blend = (payload[15] >> 1) & 1
            sub_cc = payload[16:20]
            sub_len = int.from_bytes(payload[20:24], "little")
            if sub_cc == b"VP8 ":
                raise NotImplementedError(
                    "webp: lossy VP8 animation frames need an external "
                    "codec — VP8L frames decode natively"
                )
            if sub_cc != b"VP8L":
                raise ValueError(
                    f"webp: ANMF frame chunk {sub_cc!r} unsupported"
                )
            data = payload[24 : 24 + sub_len]
            if len(data) != sub_len:
                raise ValueError("webp: ANMF frame payload truncated")
            w, h, px = decode_vp8l(data)
            if (w, h) != (fw, fh):
                raise ValueError(
                    "webp: ANMF header dims disagree with the frame"
                )
            if fx + fw > canvas_w or fy + fh > canvas_h:
                raise ValueError("webp: ANMF frame exceeds the canvas")
            if pending_dispose is not None:
                dx, dy, dw, dh = pending_dispose
                for y in range(dy, dy + dh):
                    row = y * canvas_w
                    for x in range(dx, dx + dw):
                        canvas[row + x] = 0
                pending_dispose = None
            for y in range(fh):
                row = (fy + y) * canvas_w
                for x in range(fw):
                    src = px[y * fw + x]
                    if no_blend:
                        canvas[row + fx + x] = src
                    else:
                        canvas[row + fx + x] = _blend_over(
                            src, canvas[row + fx + x])
            out.append((dur, list(canvas)))
            if dispose:
                pending_dispose = (fx, fy, fw, fh)
    if canvas_w is None or not out:
        raise ValueError("webp: no animated lossless frames present")
    return canvas_w, canvas_h, out

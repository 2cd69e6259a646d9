"""GIF and BMP codecs — pure stdlib, no image libraries.

GIF (public spec: GIF89a, CompuServe 1990): logical screen descriptor,
global color table, sub-blocked LZW raster with LSB-first growing code
widths (clear/EOI codes, 12-bit cap, KwKwK case), optional 4-pass row
interlacing.  BMP (public spec: Windows BITMAPINFOHEADER): 24-bit BI_RGB
and 8-bit palettized, bottom-up or top-down row order, 4-byte row padding.

Together with netpbm + PNG (operators/multimodal.py) and baseline JPEG
(operators/jpeg.py) this makes ``decode_image_real`` cover every common
legacy raster container natively; remaining magics (TIFF, WebP, AVIF…)
stay at the documented codec-library seam.  Both encoders emit real,
viewer-openable bytes; cross-validated against the JVM's independent
``javax.imageio`` readers in tests/test_gif_bmp_codec.py.
"""

from __future__ import annotations

import struct

from .bitio import LsbReader, LsbWriter

# GIF's interlace passes: (start row, row step) in pass order
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# ------------------------------------------------------------------ LZW


def _sub_blocks(payload: bytes) -> bytes:
    """GIF data sub-blocks: 255-byte-max length-prefixed chunks, then the
    zero-length block terminator."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _lzw_encode(indexes: list[int], mcs: int) -> bytes:
    """GIF-variant LZW: emit CLEAR first, grow code width from mcs+1 as
    the dictionary fills, reset at 4096 codes, finish with EOI."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    w = LsbWriter()

    def reset() -> tuple[dict, int, int]:
        return (
            {(i,): i for i in range(1 << mcs)},
            eoi + 1,  # next code to assign
            mcs + 1,  # current code width
        )

    table, nxt, width = reset()
    w.write(clear, width)
    cur: tuple[int, ...] = ()
    for idx in indexes:
        cand = cur + (idx,)
        if cand in table:
            cur = cand
            continue
        w.write(table[cur], width)
        table[cand] = nxt
        nxt += 1
        # width grows when the NEXT assigned code would not fit
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        if nxt == 4097:  # table full: reset (keeps the encoder simple)
            w.write(clear, width)
            table, nxt, width = reset()
        cur = (idx,)
    if cur:
        w.write(table[cur], width)
    w.write(eoi, width)
    return _sub_blocks(w.getvalue())


def _lzw_decode(data: bytes, mcs: int, n_expected: int) -> list[int]:
    """Decode GIF LZW sub-block payload (already de-blocked) to pixel
    indexes; stops at EOI or when n_expected indexes are out."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    br = LsbReader(data)
    out: list[int] = []
    table: list[tuple[int, ...]] = []
    width = mcs + 1
    prev: tuple[int, ...] | None = None

    def reset_table() -> None:
        nonlocal table, width, prev
        table = [(i,) for i in range(1 << mcs)] + [(), ()]
        width = mcs + 1
        prev = None

    reset_table()
    while len(out) < n_expected:
        code = br.read(width)
        if code == clear:
            reset_table()
            continue
        if code == eoi:
            break
        if code < len(table) and code not in (clear, eoi):
            entry = table[code]
        elif code == len(table) and prev:
            entry = prev + (prev[0],)  # the KwKwK case
        else:
            raise ValueError(f"bad GIF LZW code {code}")
        out.extend(entry)
        if prev is not None:
            table.append(prev + (entry[0],))
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_expected:
        raise ValueError(f"GIF raster short: {len(out)} < {n_expected}")
    return out[:n_expected]


# ------------------------------------------------------------------ GIF


def encode_gif(
    gray: list[int], width: int, height: int, interlace: bool = False
) -> bytes:
    """Real, viewer-openable GIF89a bytes for a grayscale pixel list: a
    global color table of the distinct gray values and one LZW-compressed
    image (4-pass interlaced row order when ``interlace``)."""
    if len(gray) != width * height:
        raise ValueError(f"{len(gray)} pixels for {width}x{height}")
    pal = sorted(set(gray))
    if len(pal) > 256:
        raise ValueError("more than 256 distinct values")
    idx = {g: i for i, g in enumerate(pal)}
    # color table size: power of two >= len(pal), minimum 2
    n = 1
    while (1 << (n + 1)) < len(pal):
        n += 1
    table_entries = 1 << (n + 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (7 << 4) | n, 0, 0)
    for k in range(table_entries):
        g = pal[k] if k < len(pal) else 0
        out += bytes((g, g, g))
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0x40 if interlace else 0)
    rows: list[int] = []
    if interlace:
        for start, step in _GIF_PASSES:
            rows.extend(range(start, height, step))
    else:
        rows = list(range(height))
    indexes = [idx[gray[y * width + x]] for y in rows for x in range(width)]
    mcs = max(2, n + 1)  # LZW minimum code size
    out.append(mcs)
    out += _lzw_encode(indexes, mcs)
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode the first image of a GIF87a/89a stream to (width, height,
    gray pixels): palette entries reduce by the same integer RGB mean as
    the other codecs; 4-pass interlaced rasters are de-interlaced."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[i : i + 3 * n]
        if len(gct) != 3 * n:
            raise ValueError("GIF global color table truncated")
        i += 3 * n
    while i < len(payload):
        b = payload[i]
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(payload) and payload[i]:
                i += 1 + payload[i]
            i += 1
        elif b == 0x2C:  # image descriptor
            left, top, w, h, ipacked = struct.unpack("<HHHHB", payload[i + 1 : i + 10])
            i += 10
            pal = gct
            if ipacked & 0x80:  # local color table wins
                n = 2 << (ipacked & 0x07)
                pal = payload[i : i + 3 * n]
                if len(pal) != 3 * n:
                    raise ValueError("GIF local color table truncated")
                i += 3 * n
            if pal is None:
                raise ValueError("GIF image has no color table")
            mcs = payload[i]
            i += 1
            lzw = bytearray()
            while i < len(payload) and payload[i]:
                size = payload[i]
                block = payload[i + 1 : i + 1 + size]
                if len(block) != size:
                    raise ValueError("GIF data sub-block truncated")
                lzw += block
                i += 1 + size
            indexes = _lzw_decode(bytes(lzw), mcs, w * h)
            pal_gray = [
                (pal[3 * k] + pal[3 * k + 1] + pal[3 * k + 2]) // 3
                for k in range(len(pal) // 3)
            ]
            try:
                flat = [pal_gray[ix] for ix in indexes]
            except IndexError:
                raise ValueError("GIF pixel index out of palette range") from None
            if ipacked & 0x40:  # de-interlace the 4-pass row order
                out = [0] * (w * h)
                src = 0
                for start, step in _GIF_PASSES:
                    for y in range(start, h, step):
                        out[y * w : (y + 1) * w] = flat[src : src + w]
                        src += w
                flat = out
            return w, h, flat
        elif b == 0x3B:  # trailer before any image
            break
        else:
            raise ValueError(f"bad GIF block 0x{b:02X} at byte {i}")
    raise ValueError("GIF stream has no image")


# ------------------------------------------------------------------ BMP


def encode_bmp(
    gray: list[int], width: int, height: int, bpp: int = 24
) -> bytes:
    """Real, viewer-openable BMP bytes: ``bpp`` 24 writes BGR triplets
    (g,g,g), 8 writes a 256-entry grayscale palette + index rows; rows
    bottom-up and padded to 4 bytes per the spec."""
    if len(gray) != width * height:
        raise ValueError(f"{len(gray)} pixels for {width}x{height}")
    if bpp not in (8, 24):
        raise ValueError(f"unsupported bpp {bpp}")
    row_len = width * (bpp // 8)
    pad = (-row_len) % 4
    raster = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        for x in range(width):
            g = gray[y * width + x]
            raster += bytes((g, g, g)) if bpp == 24 else bytes((g,))
        raster += b"\x00" * pad
    palette = (
        b"".join(bytes((v, v, v, 0)) for v in range(256)) if bpp == 8 else b""
    )
    offset = 14 + 40 + len(palette)
    header = b"BM" + struct.pack("<IHHI", offset + len(raster), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII",
        40,
        width,
        height,  # positive: bottom-up
        1,
        bpp,
        0,  # BI_RGB
        len(raster),
        2835,
        2835,
        256 if bpp == 8 else 0,
        0,
    )
    return header + info + palette + raster


def decode_bmp(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode an uncompressed BMP (BITMAPINFOHEADER or larger; 8-bit
    palettized or 24/32-bit BI_RGB; bottom-up or top-down) to gray via
    the integer BGR mean."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP signature")
    (offset,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height, _planes, bpp, comp = struct.unpack("<iiHHI", payload[18:34])
    if comp != 0:
        raise ValueError(f"compressed BMP (method {comp}) unsupported")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    top_down = height < 0
    height = abs(height)
    pal_gray = None
    if bpp == 8:
        (n_colors,) = struct.unpack("<I", payload[46:50])
        n_colors = n_colors or 256
        pal = payload[14 + hdr_size : 14 + hdr_size + 4 * n_colors]
        if len(pal) != 4 * n_colors:
            raise ValueError("BMP palette truncated")
        pal_gray = [
            (pal[4 * k] + pal[4 * k + 1] + pal[4 * k + 2]) // 3
            for k in range(n_colors)
        ]
    step = bpp // 8
    row_len = width * step
    stride = row_len + ((-row_len) % 4)
    if offset + stride * height > len(payload):
        raise ValueError("BMP raster truncated")
    gray = [0] * (width * height)
    for r in range(height):
        y = r if top_down else height - 1 - r
        base = offset + r * stride
        row = payload[base : base + row_len]
        if bpp == 8:
            try:
                gray[y * width : (y + 1) * width] = [pal_gray[v] for v in row]
            except IndexError:
                raise ValueError("BMP pixel index out of palette range") from None
        else:
            gray[y * width : (y + 1) * width] = [
                (row[x * step] + row[x * step + 1] + row[x * step + 2]) // 3
                for x in range(width)
            ]
    return width, height, gray


# ---------------------------------------------------------- GIF animation
# GIF89a animation (the meme/reaction-GIF modality of web corpora): a
# NETSCAPE2.0 looping extension, then per frame a Graphic Control
# Extension (disposal method, delay, optional transparency) and an image
# descriptor that may cover only a SUB-RECT of the logical screen.
# Frame composition is the part naive per-image decoding gets wrong:
# each frame paints onto the previous canvas, and disposal 2 restores
# the frame's rect to the background color afterwards.


def encode_gif_animation(
    base: list[int],
    width: int,
    height: int,
    patches: list,
    bg_gray: int = 0,
) -> bytes:
    """Real animated GIF89a: frame 0 is the full-canvas ``base``; each
    ``(left, top, w, h, value, delay_cs, disposal)`` patch is a further
    frame painting a solid-``value`` sub-rect.  A full 256-entry
    grayscale global color table keeps index == gray value.  ``disposal``
    1 leaves the frame in place, 2 restores its rect to ``bg_gray``."""
    if len(base) != width * height:
        raise ValueError(f"{len(base)} pixels for {width}x{height}")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (7 << 4) | 7, bg_gray, 0)
    for g in range(256):
        out += bytes((g, g, g))
    # NETSCAPE2.0 looping application extension (loop forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"

    def gce(delay_cs: int, disposal: int) -> bytes:
        return struct.pack(
            "<BBBBHBB", 0x21, 0xF9, 4, (disposal & 0x7) << 2, delay_cs, 0, 0
        )

    def image(left: int, top: int, w: int, h: int, pix: list) -> bytes:
        b = bytearray(struct.pack("<BHHHHB", 0x2C, left, top, w, h, 0))
        b.append(8)  # LZW minimum code size (256-entry table)
        b += _lzw_encode(pix, 8)
        return bytes(b)

    out += gce(10, 1)
    out += image(0, 0, width, height, list(base))
    for left, top, w, h, value, delay_cs, disposal in patches:
        if left + w > width or top + h > height:
            raise ValueError("gif: patch rect outside the logical screen")
        out += gce(delay_cs, disposal)
        out += image(left, top, w, h, [value] * (w * h))
    out.append(0x3B)
    return bytes(out)


def decode_gif_frames(payload: bytes) -> tuple:
    """Decode an animated GIF89a into COMPOSED frames.  Returns
    ``(width, height, bg_gray, [(delay_cs, disposal, pixels)])`` where
    each ``pixels`` is the full logical-screen canvas AS DISPLAYED at
    that frame: sub-rect frames paint over the running canvas,
    transparent indexes leave it untouched, disposal 1 persists, and
    disposal 2 restores the frame's rect to the background color before
    the next frame (disposal 3, restore-to-previous, pops the canvas
    saved before the frame painted).  Damage raises per record."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    sw, sh, packed, bg_index, _ar = struct.unpack("<HHBBB", payload[6:13])
    i = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = payload[i : i + 3 * n]
        if len(gct) != 3 * n:
            raise ValueError("GIF global color table truncated")
        i += 3 * n

    def pal_gray(pal: bytes) -> list:
        return [
            (pal[3 * k] + pal[3 * k + 1] + pal[3 * k + 2]) // 3
            for k in range(len(pal) // 3)
        ]

    gct_gray = pal_gray(gct) if gct else None
    bg_gray = gct_gray[bg_index] if gct_gray and bg_index < len(gct_gray) else 0
    canvas = [bg_gray] * (sw * sh)
    frames = []
    # pending GCE state for the NEXT image descriptor
    delay_cs, disposal, transparent = 0, 0, None
    while i < len(payload):
        b = payload[i]
        if b == 0x21:  # extension
            label = payload[i + 1]
            i += 2
            blocks = bytearray()
            while i < len(payload) and payload[i]:
                size = payload[i]
                blocks += payload[i + 1 : i + 1 + size]
                i += 1 + size
            i += 1
            if label == 0xF9:
                if len(blocks) < 4:
                    raise ValueError("GIF graphic control block truncated")
                gpacked = blocks[0]
                delay_cs = blocks[1] | (blocks[2] << 8)
                disposal = (gpacked >> 2) & 0x7
                transparent = blocks[3] if gpacked & 0x1 else None
        elif b == 0x2C:
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", payload[i + 1 : i + 10]
            )
            if left + w > sw or top + h > sh:
                raise ValueError("GIF frame rect outside the logical screen")
            i += 10
            pal = gct_gray
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                lct = payload[i : i + 3 * n]
                if len(lct) != 3 * n:
                    raise ValueError("GIF local color table truncated")
                pal = pal_gray(lct)
                i += 3 * n
            if pal is None:
                raise ValueError("GIF image has no color table")
            mcs = payload[i]
            i += 1
            lzw = bytearray()
            while i < len(payload) and payload[i]:
                size = payload[i]
                block = payload[i + 1 : i + 1 + size]
                if len(block) != size:
                    raise ValueError("GIF data sub-block truncated")
                lzw += block
                i += 1 + size
            i += 1  # block terminator
            indexes = _lzw_decode(bytes(lzw), mcs, w * h)
            if ipacked & 0x40:
                rows = []
                for start, step in _GIF_PASSES:
                    rows.extend(range(start, h, step))
                deinter = [0] * (w * h)
                for src_row, y in enumerate(rows):
                    deinter[y * w : (y + 1) * w] = indexes[
                        src_row * w : (src_row + 1) * w
                    ]
                indexes = deinter
            saved = list(canvas) if disposal == 3 else None
            for y in range(h):
                row0 = (top + y) * sw + left
                for x in range(w):
                    ix = indexes[y * w + x]
                    if transparent is not None and ix == transparent:
                        continue
                    if ix >= len(pal):
                        raise ValueError("GIF pixel index out of palette range")
                    canvas[row0 + x] = pal[ix]
            frames.append((delay_cs, disposal, list(canvas)))
            if disposal == 2:
                for y in range(h):
                    row0 = (top + y) * sw + left
                    for x in range(w):
                        canvas[row0 + x] = bg_gray
            elif disposal == 3:
                canvas = saved
            delay_cs, disposal, transparent = 0, 0, None
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{b:02X} at byte {i}")
    if not frames:
        raise ValueError("GIF stream has no image")
    return sw, sh, bg_gray, frames

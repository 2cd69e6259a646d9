"""Baseline JPEG (JFIF) codec — pure Python + numpy, no image libraries.

Implements the baseline sequential DCT process of the public JPEG spec
(ITU-T T.81 / ISO 10918-1): 8x8 blocks, level shift, forward DCT,
quantization (Annex K luminance/chrominance tables scaled by the libjpeg
quality formula), zigzag, DC-difference + AC run-length coding, and
canonical Huffman entropy coding.  The Huffman tables are *optimized per
image* from the actual symbol frequencies (the same two-pass strategy as
``cjpeg -optimize``) and emitted in DHT — so no hand-transcribed constant
tables, and any spec-conforming decoder (including this module's) reads
them from the stream.

The decoder is a generic parser: marker walk, DQT/DHT/DRI/SOF0/SOS,
byte-unstuffed bitstream, per-component sampling factors up to 2x2
(4:4:4 / 4:2:2 / 4:2:0), restart markers, dequantize + IDCT + chroma
upsample + YCbCr->RGB.  Progressive (SOF2, Annex G) decodes natively
too: spectral-selection bands and successive-approximation first +
refinement scans accumulate into per-component coefficient arrays,
interleaved DC and non-interleaved AC grids both handled, with a
matching multi-scan encoder (``encode_jpeg_progressive``) whose full
scan script reproduces the baseline output bit-exactly.  Arithmetic
coding, hierarchical processes, and 12-bit precision still raise
ValueError — the remaining seam where libjpeg-turbo plugs in on a real
cluster.

JPEG is lossy: ``decode(encode(img))`` equals ``img`` only within a bounded
error (tight at quality 95, looser with 4:2:0 chroma subsampling).  The
ingest query therefore oracle-checks an explicit error *bound* per staged
quality mode, not byte equality — see queries/formats/formats_media.py.

Reference seam being replaced: the reference loads media through external
tooling outside its pipelines (no codec in
/root/reference — multimodal is this repo's north-star extension);
operators/multimodal.py:decode_image_real dispatches the 0xFFD8 magic here.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

# Annex K.1 example quantization tables (public spec values).
_QL_BASE = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
_QC_BASE = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scaling formula (jcparam.c semantics):
    Q<50 scales up by 5000/Q, Q>=50 scales down by 200-2Q; entries clamp
    to [1, 255] (8-bit Pq=0 tables)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality {quality} not in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def _zigzag_order() -> list[tuple[int, int]]:
    """The 64 (row, col) pairs in JPEG zigzag order, generated by the
    diagonal walk (no transcribed constant): odd diagonals run down-left,
    even diagonals up-right."""
    out: list[tuple[int, int]] = []
    for s in range(15):
        rng = range(s + 1) if s % 2 else range(s, -1, -1)
        out.extend((i, s - i) for i in rng if i < 8 and s - i < 8)
    return out


_ZZ = _zigzag_order()
_ZZ_ROWS = np.array([r for r, _ in _ZZ])
_ZZ_COLS = np.array([c for _, c in _ZZ])

# Orthonormal 8-point DCT-II matrix: T @ B @ T.T is exactly the spec's
# FDCT S(u,v) = 1/4 C(u)C(v) sum sum s(x,y) cos(..)cos(..).
_DCT_T = np.array(
    [
        [
            np.sqrt(1 / 8) * (1 / np.sqrt(2) if u == 0 else 1.0) * np.sqrt(2)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _DCT_T @ block @ _DCT_T.T


def _idct(coef: np.ndarray) -> np.ndarray:
    return _DCT_T.T @ coef @ _DCT_T


# ------------------------------------------------- optimized Huffman build


def _huffman_lengths(freq: dict[int, int]) -> dict[int, int]:
    """Code length per symbol from frequencies — the two-least-frequent
    merge of Annex K.2, then limited to 16 bits.  A dummy symbol (256)
    guarantees no real symbol gets the all-ones code (the spec reserves
    it) and that a single-symbol alphabet still gets a 1-bit code."""
    f = dict(freq)
    f[256] = 0  # dummy: always merged, pushes reals off the all-ones code
    size = {s: 0 for s in f}
    # merge by (frequency, symbol) like the spec's OTHERS chains
    groups: list[tuple[int, list[int]]] = sorted(
        ([cnt, [s]] for s, cnt in f.items()), key=lambda g: (g[0], g[1][0])
    )
    while len(groups) > 1:
        groups.sort(key=lambda g: (g[0], g[1][0]))
        a, b = groups[0], groups[1]
        for s in a[1] + b[1]:
            size[s] += 1
        groups = [[a[0] + b[0], a[1] + b[1]]] + groups[2:]
    # limit to 16 bits (Annex K.3 adjust): move pairs down until legal
    by_len: dict[int, list[int]] = {}
    for s, ln in size.items():
        by_len.setdefault(ln, []).append(s)
    max_len = max(size.values())
    for ln in range(max_len, 16, -1):
        while by_len.get(ln):
            # find the longest prefix length j < ln-1 with a symbol to split
            j = ln - 2
            while j > 0 and not by_len.get(j):
                j -= 1
            # two symbols at ln become one at ln-1; one at j becomes two at j+1
            s1 = by_len[ln].pop()
            s2 = by_len[ln].pop()
            moved = by_len[j].pop()
            by_len.setdefault(ln - 1, []).append(s1)
            by_len.setdefault(j + 1, []).extend([s2, moved])
    out = {}
    for ln, syms in by_len.items():
        for s in syms:
            if s != 256:
                out[s] = ln
    return out


def _canonical_codes(
    lengths: dict[int, int],
) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
    """Canonical Huffman assignment: (BITS[1..16], HUFFVAL, symbol ->
    (code, length)).  Symbols sort by (length, value) — the DHT ordering."""
    syms = sorted(lengths, key=lambda s: (lengths[s], s))
    bits = [0] * 17
    for s in syms:
        bits[lengths[s]] += 1
    codes: dict[int, tuple[int, int]] = {}
    code, prev_len = 0, 0
    for s in syms:
        ln = lengths[s]
        code <<= ln - prev_len
        codes[s] = (code, ln)
        code += 1
        prev_len = ln
    return bits[1:], syms, codes


# ------------------------------------------------------------ bit writer


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        pad = (8 - self.nbits % 8) % 8
        if pad:
            self.write((1 << pad) - 1, pad)  # pad with 1s per the spec


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _amplitude(v: int, s: int) -> int:
    """The s magnitude bits for value v (negative values offset by 2^s-1)."""
    return v if v >= 0 else v + (1 << s) - 1


# -------------------------------------------------------------- encoder


def _block_symbols(zz: np.ndarray, prev_dc: int) -> tuple[list, list, int]:
    """(dc_syms, ac_syms, new_prev_dc): each sym is (huff_symbol,
    amplitude_bits, n_amplitude_bits) for one quantized zigzag block."""
    dc = int(zz[0])
    diff = dc - prev_dc
    s = _category(diff)
    dcs = [(s, _amplitude(diff, s), s)]
    acs = []
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append((0xF0, 0, 0))  # ZRL
            run -= 16
        s = _category(v)
        acs.append((run * 16 + s, _amplitude(v, s), s))
        run = 0
    if last_nz < 63:
        acs.append((0x00, 0, 0))  # EOB
    return dcs, acs, dc


def _component_blocks(
    plane: np.ndarray, qtab: np.ndarray
) -> list[np.ndarray]:
    """FDCT + quantize every 8x8 block of a (padded) plane; returns the
    zigzag int vectors in raster block order."""
    h, w = plane.shape
    shifted = plane.astype(np.float64) - 128.0
    out = []
    for by in range(h // 8):
        for bx in range(w // 8):
            coef = _fdct(shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8])
            q = np.round(coef / qtab).astype(np.int32)
            out.append(q[_ZZ_ROWS, _ZZ_COLS])
    return out


def _pad_to(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate pad a plane up to multiples of (bh, bw) — the
    standard encoder treatment of partial boundary blocks."""
    h, w = plane.shape
    H = -(-h // bh) * bh
    W = -(-w // bw) * bw
    return np.pad(plane, ((0, H - h), (0, W - w)), mode="edge")


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">HH", tag, len(payload) + 2) + payload


def _dqt(tid: int, qtab: np.ndarray) -> bytes:
    return _marker(
        0xFFDB, bytes([tid]) + bytes(int(qtab[r, c]) for r, c in _ZZ)
    )


def _dht(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    return _marker(
        0xFFC4, bytes([tclass * 16 + tid]) + bytes(bits) + bytes(vals)
    )


def _plan_components(
    pixels: np.ndarray | list,
    width: int,
    height: int,
    quality: int,
    subsampling: str,
) -> tuple[list, list, int, int, list, list[int]]:
    """Shared encoder front half: color transform, (optional) chroma
    decimation, per-component FDCT+quantize. Returns (comps, qtabs,
    mcus_x, mcus_y, mcu_layout, tids) where each comps entry is (cid, hs,
    vs, tq, zigzag blocks in raster order) — consumed by both the
    baseline and the progressive entropy back halves."""
    if subsampling not in ("gray", "444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    ql = _quality_scale(_QL_BASE, quality)
    if subsampling == "gray":
        plane = np.asarray(pixels, dtype=np.int32).reshape(height, width)
        comps = [(1, 1, 1, 0, _component_blocks(_pad_to(plane, 8, 8), ql))]
        qtabs = [(0, ql)]
        mcus_x = -(-width // 8)
        mcus_y = -(-height // 8)
        mcu_layout = [(0, 1, 1)]  # (comp index, h blocks, v blocks) per MCU
    else:
        rgb = np.asarray(pixels, dtype=np.float64).reshape(height, width, 3)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        qc = _quality_scale(_QC_BASE, quality)
        qtabs = [(0, ql), (1, qc)]
        if subsampling == "444":
            hs = vs = 1
            cbp, crp = cb, cr
        else:
            hs = vs = 2
            # chroma decimation by 2x2 box mean over an edge-padded plane
            cbp = _pad_to(cb, 2, 2).reshape(-(-height // 2), 2, -(-width // 2), 2).mean(axis=(1, 3))
            crp = _pad_to(cr, 2, 2).reshape(-(-height // 2), 2, -(-width // 2), 2).mean(axis=(1, 3))
        mcu_w, mcu_h = 8 * hs, 8 * vs
        mcus_x = -(-width // mcu_w)
        mcus_y = -(-height // mcu_h)
        comps = [
            (1, hs, vs, 0, _component_blocks(_pad_to(y, mcu_h, mcu_w), ql)),
            (2, 1, 1, 1, _component_blocks(_pad_to(cbp, 8, 8), qc)),
            (3, 1, 1, 1, _component_blocks(_pad_to(crp, 8, 8), qc)),
        ]
        mcu_layout = [(0, hs, vs), (1, 1, 1), (2, 1, 1)]
    # luma uses table id 0; all chroma components share table id 1
    tids = [0] + [1] * (len(comps) - 1)
    return comps, qtabs, mcus_x, mcus_y, mcu_layout, tids


def encode_jpeg(
    pixels: np.ndarray | list,
    width: int,
    height: int,
    quality: int = 95,
    subsampling: str = "gray",
    restart_interval: int = 0,
) -> bytes:
    """Real, viewer-openable baseline JFIF bytes.

    ``pixels``: grayscale list/array of width*height values when
    ``subsampling='gray'`` (one Y component), else an (height, width, 3)
    RGB array for ``'444'`` (no chroma subsampling) or ``'420'`` (2x2
    luma sampling, the common camera default).  Huffman tables are
    optimized from the image's own symbol statistics and written to DHT.
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (the parallel-decode seam real pipelines rely on)."""
    comps, qtabs, mcus_x, mcus_y, mcu_layout, tids = _plan_components(
        pixels, width, height, quality, subsampling
    )

    # MCU-ordered symbol stream (two passes: stats, then emit)
    def mcu_blocks():
        """Yield (comp_idx, zigzag block) in interleaved MCU order."""
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, ch, cv in mcu_layout:
                    _, hs_c, vs_c, _, blocks = comps[ci]
                    bw = mcus_x * hs_c  # blocks per row in this component
                    for by in range(cv):
                        for bx in range(ch):
                            yield ci, blocks[(my * vs_c + by) * bw + mx * hs_c + bx]

    n_mcus = mcus_x * mcus_y
    # pass 1: frequencies (restart resets DC prediction, mirror that)
    dc_freq: list[dict[int, int]] = [{} for _ in comps]
    ac_freq: list[dict[int, int]] = [{} for _ in comps]
    prev = [0] * len(comps)
    mcu_i = 0
    blocks_per_mcu = sum(ch * cv for _, ch, cv in mcu_layout)
    for n, (ci, zz) in enumerate(mcu_blocks()):
        if n % blocks_per_mcu == 0:
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                prev = [0] * len(comps)
            mcu_i += 1
        dcs, acs, prev[ci] = _block_symbols(zz, prev[ci])
        for sym, _, _ in dcs:
            dc_freq[ci][sym] = dc_freq[ci].get(sym, 0) + 1
        for sym, _, _ in acs:
            ac_freq[ci][sym] = ac_freq[ci].get(sym, 0) + 1

    dc_tabs: dict[int, tuple] = {}
    ac_tabs: dict[int, tuple] = {}
    for ci, tid in enumerate(tids):
        for freq, tabs in ((dc_freq[ci], dc_tabs), (ac_freq[ci], ac_tabs)):
            if tid in tabs:  # merge chroma components into one table
                merged = dict(tabs[tid][0])
                for s, c in freq.items():
                    merged[s] = merged.get(s, 0) + c
                tabs[tid] = (merged, None)
            else:
                tabs[tid] = (dict(freq), None)
    for tabs in (dc_tabs, ac_tabs):
        for tid, (freq, _) in tabs.items():
            tabs[tid] = _canonical_codes(_huffman_lengths(freq or {0: 1}))

    # pass 2: emit
    bw_ = _BitWriter()
    prev = [0] * len(comps)
    mcu_i = 0
    body = bytearray()
    for n, (ci, zz) in enumerate(mcu_blocks()):
        if n % blocks_per_mcu == 0:
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw_.flush()
                body.extend(bw_.out)
                bw_ = _BitWriter()
                body.extend(
                    struct.pack(">H", 0xFFD0 + (mcu_i // restart_interval - 1) % 8)
                )
                prev = [0] * len(comps)
            mcu_i += 1
        tid = tids[ci]
        dcs, acs, prev[ci] = _block_symbols(zz, prev[ci])
        for sym, amp, nb in dcs:
            code, ln = dc_tabs[tid][2][sym]
            bw_.write(code, ln)
            if nb:
                bw_.write(amp, nb)
        for sym, amp, nb in acs:
            code, ln = ac_tabs[tid][2][sym]
            bw_.write(code, ln)
            if nb:
                bw_.write(amp, nb)
    bw_.flush()
    body.extend(bw_.out)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _marker(
        0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tid, q in qtabs:
        out += _dqt(tid, q)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for (cid, h_s, v_s, tq, _), _tid in zip(comps, tids):
        sof += bytes([cid, h_s * 16 + v_s, tq])
    out += _marker(0xFFC0, sof)
    for tid in sorted(dc_tabs):
        out += _dht(0, tid, dc_tabs[tid][0], dc_tabs[tid][1])
    for tid in sorted(ac_tabs):
        out += _dht(1, tid, ac_tabs[tid][0], ac_tabs[tid][1])
    if restart_interval:
        out += _marker(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for (cid, *_), tid in zip(comps, tids):
        sos += bytes([cid, tid * 16 + tid])
    sos += bytes([0, 63, 0])
    out += _marker(0xFFDA, sos)
    out += body
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------- progressive encoder
#
# The progressive DCT process of T.81 Annex G: the same quantized
# coefficients as baseline, transmitted over several scans — DC first
# (successive-approximation high bits), per-component AC spectral bands,
# then one refinement pass per scan adding the final bit of precision.
# With the full scan script below every coefficient bit is transmitted,
# so the decoded image is IDENTICAL to decoding the baseline encoding of
# the same source (asserted in tests/test_jpeg_codec.py).

# point transforms (G.1.2.1): DC uses an arithmetic right shift, AC
# divides by 2^Al truncating toward zero


def _pt_ac(v: int, al: int) -> int:
    return v >> al if v >= 0 else -((-v) >> al)


def _ac_first_scan_symbols(blocks, ss: int, se: int, al: int) -> list:
    """(sym, amplitude, n_bits) stream for a first AC scan (Ah=0) of one
    component's band [ss, se]: baseline run-length coding plus the EOBn
    end-of-band run codes that make empty bands nearly free."""
    syms: list[tuple[int, int, int]] = []
    eobrun = 0

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            syms.append((r << 4, eobrun - (1 << r), r))
            eobrun = 0

    for zz in blocks:
        vals = [_pt_ac(int(zz[k]), al) for k in range(ss, se + 1)]
        last = -1
        for i, v in enumerate(vals):
            if v:
                last = i
        if last < 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        for i in range(last + 1):
            v = vals[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                syms.append((0xF0, 0, 0))  # ZRL
                run -= 16
            s = _category(v)
            syms.append(((run << 4) | s, _amplitude(v, s), s))
            run = 0
        if last < se - ss:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
    flush()
    return syms


def _ac_refine_scan_symbols(blocks, ss: int, se: int, al: int) -> list:
    """(sym, amplitude, n_bits, correction_bits) stream for an AC
    refinement scan (Ah = Al+1) per G.1.2.3: newly-significant
    coefficients are run-length coded with a sign bit; coefficients made
    nonzero by earlier scans contribute one buffered correction bit each,
    appended after the next emitted symbol (or after the EOBn that closes
    their run)."""
    out: list[tuple[int, int, int, list[int]]] = []
    eobrun = 0
    eob_corr: list[int] = []

    def flush() -> None:
        nonlocal eobrun, eob_corr
        if eobrun:
            r = eobrun.bit_length() - 1
            out.append(((r << 4), eobrun - (1 << r), r, eob_corr))
            eobrun = 0
            eob_corr = []

    for zz in blocks:
        vals = [int(zz[k]) for k in range(ss, se + 1)]
        absv = [abs(v) >> al for v in vals]
        hist = [abs(v) >> (al + 1) for v in vals]  # nonzero: already coded
        last_new = -1
        for i in range(len(vals)):
            if hist[i] == 0 and absv[i] == 1:
                last_new = i
        if last_new < 0:
            eobrun += 1
            eob_corr.extend(absv[i] & 1 for i in range(len(vals)) if hist[i])
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        run = 0
        corr: list[int] = []
        for i in range(last_new + 1):
            if hist[i]:
                corr.append(absv[i] & 1)
            elif absv[i] == 0:
                run += 1
                if run == 16:
                    out.append((0xF0, 0, 0, corr))
                    corr = []
                    run = 0
            else:  # newly significant: magnitude 1 at this precision
                sign = 1 if vals[i] > 0 else 0
                out.append(((run << 4) | 1, sign, 1, corr))
                corr = []
                run = 0
        # the block joins the end-of-band run ONLY if a remainder exists
        # (the decoder stops reading symbols once k passes Se, so a block
        # whose last newly-significant coefficient sits exactly at the
        # band end must not be counted)
        if last_new < len(vals) - 1:
            eobrun += 1
            eob_corr.extend(
                absv[i] & 1 for i in range(last_new + 1, len(vals)) if hist[i]
            )
            if eobrun == 0x7FFF:
                flush()
    flush()
    return out


def _emit_huffman_scan(
    out: bytearray, tclass: int, chunks: list, sos_payload: bytes
) -> None:
    """Optimized per-scan Huffman table (id 0), DHT + SOS + entropy body.
    ``chunks`` is a list of restart intervals, each a list of
    (sym, amp, n_bits[, correction_bits]) symbols; the Huffman table is
    built over the whole scan, and an RSTn marker (numbered from D0,
    modulo 8) separates consecutive intervals with the bit stream
    flushed/1-padded at each boundary per T.81 B.2.1."""
    freq: dict[int, int] = {}
    for syms in chunks:
        for s in syms:
            freq[s[0]] = freq.get(s[0], 0) + 1
    bits, vals, codes = _canonical_codes(_huffman_lengths(freq or {0: 1}))
    out += _dht(tclass, 0, bits, vals)
    out += _marker(0xFFDA, sos_payload)
    bw = _BitWriter()
    for i, syms in enumerate(chunks):
        if i:
            bw.flush()
            bw.out += struct.pack(">H", 0xFFD0 + (i - 1) % 8)
        for s in syms:
            code, ln = codes[s[0]]
            bw.write(code, ln)
            if s[2]:
                bw.write(s[1], s[2])
            if len(s) > 3:
                for bit in s[3]:
                    bw.write(bit, 1)
    bw.flush()
    out += bw.out


def encode_jpeg_progressive(
    pixels: np.ndarray | list,
    width: int,
    height: int,
    quality: int = 95,
    subsampling: str = "gray",
    restart_interval: int = 0,
) -> bytes:
    """Real progressive (SOF2) JFIF bytes — spectral selection AND
    successive approximation, the scan shape ~10-20% of real web-crawl
    JPEGs use. Scan script (the libjpeg-style default, one bit of
    successive approximation): interleaved DC at Al=1; per-component AC
    bands (luma 1-5 and 6-63, chroma 1-63) at Al=1; DC refinement (raw
    bits); AC refinement per band at Al=0. Every coefficient bit is
    transmitted, so decoding reproduces the baseline encoding's output
    exactly — including 4:2:0, where the non-interleaved AC scans cover
    the COMPONENT block grid (ceil(comp_dim/8)) while the interleaved DC
    scans cover the MCU-padded grid; luma pad blocks beyond the
    component grid carry DC only and never intersect the cropped frame,
    and 1x1 chroma has no pad blocks (its MCU grid equals its component
    grid), so the crop is unaffected.

    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs (interleaved DC scans) or blocks (single-component AC scans) —
    the libjpeg-style error-resilience layout; DC prediction and EOB
    runs never cross a restart boundary, and restart numbering begins
    at D0 in every scan per T.81 E.1.2."""
    comps, qtabs, mcus_x, mcus_y, mcu_layout, tids = _plan_components(
        pixels, width, height, quality, subsampling
    )
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)

    out = bytearray(b"\xff\xd8")  # SOI
    out += _marker(
        0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    for tid, q in qtabs:
        out += _dqt(tid, q)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for (cid, h_s, v_s, tq, _), _tid in zip(comps, tids):
        sof += bytes([cid, h_s * 16 + v_s, tq])
    out += _marker(0xFFC2, sof)  # SOF2: progressive DCT, Huffman
    if restart_interval:
        out += _marker(0xFFDD, struct.pack(">H", restart_interval))  # DRI

    def dc_blocks():
        """(mcu_idx, comp_idx, block) in interleaved MCU order,
        per-component hs x vs blocks per MCU over the MCU-padded grid."""
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, ch, cv in mcu_layout:
                    stride = mcus_x * ch
                    blocks = comps[ci][4]
                    for by in range(cv):
                        for bx in range(ch):
                            yield my * mcus_x + mx, ci, blocks[
                                (my * cv + by) * stride + mx * ch + bx
                            ]

    def _chunks(blocks: list) -> list[list]:
        """Split a non-interleaved scan's block list into restart
        intervals (one chunk when restarts are off)."""
        if not restart_interval:
            return [blocks]
        return [
            blocks[i : i + restart_interval]
            for i in range(0, len(blocks), restart_interval)
        ]

    def comp_grid_blocks(ci: int):
        """The component's OWN block grid (what non-interleaved scans
        cover) as a raster-order subset of its MCU-padded blocks list."""
        _cid, hs, vs, _tq, blocks = comps[ci]
        comp_w = -(-(width * hs) // hmax)
        comp_h = -(-(height * vs) // vmax)
        bw = -(-comp_w // 8)
        bh = -(-comp_h // 8)
        stride = mcus_x * hs
        return [blocks[by * stride + bx] for by in range(bh) for bx in range(bw)]

    # --- scan 1: DC first, all components interleaved, Ah=0 Al=1
    dc_syms: dict[int, list] = {t: [] for t in set(tids)}
    order: list = []  # (tid, sym) entries; None marks a restart boundary
    prev = [0] * len(comps)
    last_m = 0
    for m, ci, zz in dc_blocks():
        if restart_interval and m != last_m and m % restart_interval == 0:
            order.append(None)
            prev = [0] * len(comps)
        last_m = m
        dc = int(zz[0]) >> 1  # DC point transform: arithmetic shift
        diff = dc - prev[ci]
        prev[ci] = dc
        s = _category(diff)
        sym = (s, _amplitude(diff, s), s)
        dc_syms[tids[ci]].append(sym)
        order.append((tids[ci], sym))
    dc_codes: dict[int, dict] = {}
    for tid, syms in dc_syms.items():
        freq: dict[int, int] = {}
        for s in syms:
            freq[s[0]] = freq.get(s[0], 0) + 1
        bits, vals, codes = _canonical_codes(_huffman_lengths(freq or {0: 1}))
        out += _dht(0, tid, bits, vals)
        dc_codes[tid] = codes
    sos = bytes([len(comps)])
    for (cid, *_), tid in zip(comps, tids):
        sos += bytes([cid, tid * 16])  # Td=tid, Ta unused in a DC scan
    out += _marker(0xFFDA, sos + bytes([0, 0, 0x01]))  # Ss=0 Se=0 Ah=0 Al=1
    bw = _BitWriter()
    rst = 0
    for item in order:
        if item is None:
            bw.flush()
            bw.out += struct.pack(">H", 0xFFD0 + rst % 8)
            rst += 1
            continue
        tid, (sym, amp, nb) = item
        code, ln = dc_codes[tid][sym]
        bw.write(code, ln)
        if nb:
            bw.write(amp, nb)
    bw.flush()
    out += bw.out

    # --- AC first scans, Ah=0 Al=1: luma split into two spectral bands,
    # chroma in one; non-interleaved scans cover the component grid
    bands = {0: ((1, 5), (6, 63)), 1: ((1, 63),)}
    for ci, (cid, *_rest) in enumerate(comps):
        blocks = comp_grid_blocks(ci)
        for ss, se in bands[tids[ci]]:
            sos = bytes([1, cid, 0, ss, se, 0x01])
            _emit_huffman_scan(
                out,
                1,
                [_ac_first_scan_symbols(ch, ss, se, 1) for ch in _chunks(blocks)],
                sos,
            )

    # --- DC refinement: raw bit Al=0 per block, interleaved, no Huffman
    sos = bytes([len(comps)])
    for (cid, *_), _tid in zip(comps, tids):
        sos += bytes([cid, 0])
    out += _marker(0xFFDA, sos + bytes([0, 0, 0x10]))  # Ah=1 Al=0
    bw = _BitWriter()
    rst = 0
    last_m = 0
    for m, _ci, zz in dc_blocks():
        if restart_interval and m != last_m and m % restart_interval == 0:
            bw.flush()
            bw.out += struct.pack(">H", 0xFFD0 + rst % 8)
            rst += 1
        last_m = m
        bw.write(int(zz[0]) & 1, 1)
    bw.flush()
    out += bw.out

    # --- AC refinement scans, Ah=1 Al=0
    for ci, (cid, *_rest) in enumerate(comps):
        blocks = comp_grid_blocks(ci)
        for ss, se in bands[tids[ci]]:
            sos = bytes([1, cid, 0, ss, se, 0x10])
            _emit_huffman_scan(
                out,
                1,
                [_ac_refine_scan_symbols(ch, ss, se, 0) for ch in _chunks(blocks)],
                sos,
            )

    out += b"\xff\xd9"  # EOI
    return bytes(out)


# -------------------------------------------------------------- decoder


class _BitReader:
    """Byte-unstuffing bitstream reader over the entropy-coded segment."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if not self.nbits:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 2  # stuffed FF
                else:
                    raise ValueError("marker inside entropy stream")
            else:
                self.pos += 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> int:
        """Drop padding bits, expect a marker (for RST handling); returns
        the marker's second byte.  1-padding can complete an 0xFF byte,
        which the encoder then stuffs as FF 00 — that pair is padding,
        not a marker, and is skipped here."""
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] != 0xFF:
                self.pos += 1  # tolerate stray padding bytes before RST
            elif self.data[self.pos + 1] == 0x00:
                self.pos += 2  # stuffed FF produced by 1-bit padding
            else:
                break
        if self.pos + 1 >= len(self.data):
            raise ValueError("expected restart marker, hit end of stream")
        m = self.data[self.pos + 1]
        self.pos += 2
        return m


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol from a DHT's BITS/HUFFVAL lists."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _read_symbol(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bit()
        if (ln, code) in table:
            return table[(ln, code)]
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    """Undo _amplitude: the spec's EXTEND procedure."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


_SOF_TAGS = frozenset(
    {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}
)


def find_sof(payload: bytes) -> tuple[int, int]:
    """Walk the marker stream by segment length and return (offset, tag)
    of the frame header (SOFn), where offset points at the 0xFF byte.
    A raw ``payload.index(b'\\xff\\xc0')`` is NOT equivalent: that byte
    pair can occur inside a DQT/DHT/APP segment payload (r7 ADVICE) —
    only a length-aware walk finds the real marker."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG SOI")
    i = 2
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        while i + 1 < len(payload) and payload[i + 1] == 0xFF:
            i += 1
        tag = payload[i + 1]
        if tag in _SOF_TAGS:
            return i, tag
        if tag in (0xD9, 0xDA):  # EOI / SOS: no frame header seen
            break
        (length,) = struct.unpack(">H", payload[i + 2 : i + 4])
        i += 2 + length
    raise ValueError("JPEG stream has no SOF marker")


def decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode baseline-sequential OR progressive (SOF2) JPEG bytes to
    (width, height, RGB uint8 array of shape (height, width, 3));
    grayscale streams replicate Y into all three channels.  Progressive
    streams accumulate coefficients across every scan — spectral
    selection bands, successive-approximation first and refinement
    passes, interleaved DC and non-interleaved AC grids — then
    dequantize + IDCT once at EOI.  Arithmetic coding, hierarchical
    processes, and 12-bit samples still raise ValueError (the
    libjpeg-turbo seam)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG SOI")
    i = 2
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    progressive = False
    store: dict[int, np.ndarray] = {}  # cid -> (BH, BW, 64) coefficients
    restart = 0
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at byte {i}")
        # spec-legal fill bytes before a marker
        while i + 1 < len(payload) and payload[i + 1] == 0xFF:
            i += 1
        if i + 4 > len(payload):
            raise ValueError("truncated JPEG marker stream")
        tag = payload[i + 1]
        if tag == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", payload[i + 2 : i + 4])
        seg = payload[i + 4 : i + 2 + length]
        if len(seg) != length - 2:
            raise ValueError(f"truncated JPEG segment FF{tag:02X}")
        if tag == 0xDB:  # DQT (may hold several tables)
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                t = np.zeros((8, 8), dtype=np.int32)
                for k, (r, c) in enumerate(_ZZ):
                    t[r, c] = seg[j + 1 + k]
                qtabs[tq] = t
                j += 65
        elif tag == 0xC4:  # DHT (may hold several tables)
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1 : j + 17])
                n = sum(bits)
                vals = list(seg[j + 17 : j + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decode_map(bits, vals)
                j += 17 + n
        elif tag in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError(f"{prec}-bit JPEG unsupported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
            progressive = tag == 0xC2
        elif tag in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline-sequential and progressive JPEG decode "
                "natively (arithmetic/hierarchical/lossless need libjpeg — "
                "the codec-library seam)"
            )
        elif tag == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif tag == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan_tabs = {}
            scan_list = []
            for c in range(ns):
                cid, tt = seg[1 + 2 * c : 3 + 2 * c]
                scan_tabs[cid] = (tt >> 4, tt & 0xF)
                scan_list.append(cid)
            if not progressive:
                return _decode_scan(
                    payload, i + 2 + length, frame, scan_tabs, qtabs, dc_tabs,
                    ac_tabs, restart,
                )
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if not store:
                store = _init_coef_store(frame)
            i = _decode_progressive_scan(
                payload, i + 2 + length, frame, scan_list, scan_tabs,
                ss, se, ahal >> 4, ahal & 0xF, store, dc_tabs, ac_tabs,
                restart,
            )
            continue
        i += 2 + length
    if progressive and store:
        return _reconstruct_progressive(frame, store, qtabs)
    raise ValueError("JPEG stream has no SOS scan")


def _triangle_up(p: np.ndarray, axis: int) -> np.ndarray:
    """2x upsample along ``axis`` with the triangle filter libjpeg calls
    'fancy upsampling': each output sample is (3*nearer + farther)/4 of
    the two adjacent low-res samples, edges replicated — the de-facto
    standard chroma reconstruction, which the box-replication alternative
    visibly blockifies."""
    if axis == 0:
        return _triangle_up(p.T, axis=1).T
    pad = np.pad(p, ((0, 0), (1, 1)), mode="edge")
    left, right = pad[:, :-2], pad[:, 2:]
    out = np.empty((p.shape[0], p.shape[1] * 2), dtype=np.float64)
    out[:, 0::2] = (3.0 * p + left) / 4.0
    out[:, 1::2] = (3.0 * p + right) / 4.0
    return out


def _decode_scan(
    data: bytes,
    pos: int,
    frame,
    scan_tabs,
    qtabs,
    dc_tabs,
    ac_tabs,
    restart: int,
) -> tuple[int, int, np.ndarray]:
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        raise ValueError("sampling factors above 2x2 unsupported")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = {}
    for cid, hs, vs, _tq in comps:
        planes[cid] = np.zeros((mcus_y * vs * 8, mcus_x * hs * 8), dtype=np.float64)
    br = _BitReader(data, pos)
    prev = {cid: 0 for cid, *_ in comps}
    for m in range(mcus_x * mcus_y):
        if restart and m and m % restart == 0:
            marker = br.align_to_marker()
            if not 0xD0 <= marker <= 0xD7:
                raise ValueError(f"expected RSTn, got FF{marker:02X}")
            prev = {cid: 0 for cid, *_ in comps}
        my, mx = divmod(m, mcus_x)
        for cid, hs, vs, tq in comps:
            td, ta = scan_tabs[cid]
            q = qtabs[tq]
            for by in range(vs):
                for bx in range(hs):
                    s = _read_symbol(br, dc_tabs[td])
                    diff = _extend(br.bits(s), s) if s else 0
                    prev[cid] += diff
                    zz = np.zeros(64, dtype=np.int32)
                    zz[0] = prev[cid]
                    k = 1
                    while k < 64:
                        rs = _read_symbol(br, ac_tabs[ta])
                        if rs == 0x00:  # EOB
                            break
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        sz = rs & 0xF
                        if k > 63:
                            raise ValueError("AC coefficient index overflow")
                        zz[k] = _extend(br.bits(sz), sz)
                        k += 1
                    coef = np.zeros((8, 8), dtype=np.float64)
                    coef[_ZZ_ROWS, _ZZ_COLS] = zz * q[_ZZ_ROWS, _ZZ_COLS]
                    blk = _idct(coef) + 128.0
                    y0 = (my * vs + by) * 8
                    x0 = (mx * hs + bx) * 8
                    planes[cid][y0 : y0 + 8, x0 : x0 + 8] = blk
    return _reconstruct_planes(frame, planes)


def _reconstruct_planes(frame, planes: dict) -> tuple[int, int, np.ndarray]:
    """Shared back half of both decode paths: upsample each component's
    float plane to full MCU-grid resolution, crop to the frame dims, and
    convert to RGB (grayscale replicates Y)."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    full = []
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        if hs < hmax:
            p = _triangle_up(p, axis=1)
        if vs < vmax:
            p = _triangle_up(p, axis=0)
        full.append(p[:h, :w])
    if len(comps) == 1:
        y = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return w, h, np.stack([y, y, y], axis=-1)
    if len(comps) != 3:
        raise ValueError(f"{len(comps)}-component JPEG unsupported")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------- progressive decoder
#
# T.81 Annex G.2: coefficients accumulate across scans in per-component
# arrays; DC scans may be interleaved (MCU order), AC scans are always
# single-component over that component's OWN block grid (ceil(comp_dim/8),
# which differs from the MCU-padded grid when sampling factors differ);
# first scans (Ah=0) code values at Al bits of successive approximation,
# refinement scans (Ah=Al+1) add one bit per coefficient — newly
# significant coefficients run-length coded, already-nonzero ones via
# single correction bits.  EOBn codes span end-of-band runs across blocks.


def _init_coef_store(frame) -> dict[int, np.ndarray]:
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    return {
        cid: np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int64)
        for cid, hs, vs, _tq in comps
    }


def _decode_ac_first(br, table, zz, ss, se, al, eobrun) -> int:
    """One block of a first AC scan (Ah=0); returns the remaining EOB run."""
    if eobrun > 0:
        return eobrun - 1  # whole block inside the end-of-band run
    k = ss
    while k <= se:
        rs = _read_symbol(br, table)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += br.bits(r)
            return eobrun - 1  # current block consumes one run unit
        k += r
        if k > se:
            raise ValueError("AC coefficient index overflow in first scan")
        zz[k] = _extend(br.bits(s), s) << al
        k += 1
    return 0


def _decode_ac_refine(br, table, zz, ss, se, al, eobrun) -> int:
    """One block of an AC refinement scan (Ah=Al+1) — the correction-bit
    walk of G.2: every already-nonzero coefficient visited consumes one
    bit; runs count only still-zero positions."""
    p1 = 1 << al

    def correct(k: int) -> None:
        # one bit per nonzero coefficient; set bit Al if not already set
        if br.bit() and (int(zz[k]) & p1) == 0:
            zz[k] += p1 if zz[k] >= 0 else -p1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_symbol(br, table)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError("refinement scan coded size != 1")
                newval = p1 if br.bit() else -p1
            elif r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += br.bits(r)
                break
            # advance past r still-zero positions (16 for ZRL), applying
            # correction bits to nonzero coefficients along the way
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    raise ValueError("refinement ran past the band end")
                zz[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    frame,
    scan_list: list[int],
    scan_tabs: dict[int, tuple[int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    store: dict[int, np.ndarray],
    dc_tabs: dict[int, dict],
    ac_tabs: dict[int, dict],
    restart: int = 0,
) -> int:
    """Decode one progressive scan's entropy data into the coefficient
    store; returns the offset of the next marker.  ``restart`` > 0 (a
    preceding DRI) consumes an RSTn marker every that many MCUs
    (interleaved scans) or blocks (single-component scans), resetting DC
    prediction and the EOB run and realigning the bit reader — real
    libjpeg-emitted progressive streams carry these."""
    h, w, comps = frame
    byid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    br = _BitReader(data, pos)
    eobrun = 0

    def consume_rst() -> None:
        marker = br.align_to_marker()
        if not 0xD0 <= marker <= 0xD7:
            raise ValueError(f"expected RSTn, got FF{marker:02X}")

    if len(scan_list) > 1:
        # interleaved scans are DC-only in the progressive process
        if ss != 0 or se != 0:
            raise ValueError("interleaved progressive scan must be DC-only")
        prev = {cid: 0 for cid in scan_list}
        for m in range(mcus_x * mcus_y):
            if restart and m and m % restart == 0:
                consume_rst()
                prev = {cid: 0 for cid in scan_list}
            my, mx = divmod(m, mcus_x)
            for cid in scan_list:
                _, hs, vs, _tq = byid[cid]
                for by in range(vs):
                    for bx in range(hs):
                        zz = store[cid][my * vs + by, mx * hs + bx]
                        if ah == 0:
                            s = _read_symbol(br, dc_tabs[scan_tabs[cid][0]])
                            prev[cid] += _extend(br.bits(s), s) if s else 0
                            zz[0] = prev[cid] << al
                        elif br.bit():
                            zz[0] |= 1 << al
    else:
        cid = scan_list[0]
        _, hs, vs, _tq = byid[cid]
        # single-component scans cover the component's OWN block grid
        comp_w = -(-(w * hs) // hmax)
        comp_h = -(-(h * vs) // vmax)
        bw_blocks = -(-comp_w // 8)
        bh_blocks = -(-comp_h // 8)
        prev_v = 0
        blk_i = 0
        for by in range(bh_blocks):
            for bx in range(bw_blocks):
                if restart and blk_i and blk_i % restart == 0:
                    consume_rst()
                    prev_v = 0
                    eobrun = 0
                blk_i += 1
                zz = store[cid][by, bx]
                if ss == 0:
                    if se != 0:
                        raise ValueError("progressive scan mixes DC and AC")
                    if ah == 0:
                        s = _read_symbol(br, dc_tabs[scan_tabs[cid][0]])
                        prev_v += _extend(br.bits(s), s) if s else 0
                        zz[0] = prev_v << al
                    elif br.bit():
                        zz[0] |= 1 << al
                elif ah == 0:
                    eobrun = _decode_ac_first(
                        br, ac_tabs[scan_tabs[cid][1]], zz, ss, se, al, eobrun
                    )
                else:
                    if ah != al + 1:
                        raise ValueError(f"refinement Ah {ah} != Al+1 ({al + 1})")
                    eobrun = _decode_ac_refine(
                        br, ac_tabs[scan_tabs[cid][1]], zz, ss, se, al, eobrun
                    )
    # skip padding bits/bytes to the next marker
    j = br.pos
    while j + 1 < len(data) and not (data[j] == 0xFF and data[j + 1] != 0x00):
        j += 1
    return j


def _reconstruct_progressive(
    frame, store: dict[int, np.ndarray], qtabs: dict[int, np.ndarray]
) -> tuple[int, int, np.ndarray]:
    """Dequantize + batched IDCT every accumulated block, then the shared
    upsample/crop/color-convert back half."""
    _h, _w, comps = frame
    planes = {}
    for cid, _hs, _vs, tq in comps:
        arr = store[cid].astype(np.float64)
        q = qtabs[tq][_ZZ_ROWS, _ZZ_COLS].astype(np.float64)
        bh, bw, _ = arr.shape
        nat = np.zeros((bh, bw, 8, 8), dtype=np.float64)
        nat[..., _ZZ_ROWS, _ZZ_COLS] = arr * q
        blk = np.matmul(np.matmul(_DCT_T.T, nat), _DCT_T) + 128.0
        planes[cid] = blk.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return _reconstruct_planes(frame, planes)

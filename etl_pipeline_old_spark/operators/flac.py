"""Subset FLAC codec, pure stdlib — the lossless compressed-audio
format real speech/music corpora actually ship in (the one remaining
audio seam that is stdlib-tractable; MP3/AAC genuinely need external
codec libraries).

Written from the PUBLIC spec (RFC 9639 / the xiph.org FLAC format
description): fLaC magic + STREAMINFO metadata block, frames with
14-bit sync codes and CRC-8-protected headers, UTF-8-style coded frame
numbers, subframes (CONSTANT / VERBATIM / FIXED orders 0-4 / LPC orders
1-32, wasted-bits support), Rice-coded residual partitions (both the
4-bit and 5-bit parameter methods, including the escaped raw-bits
form), stereo decorrelation (left/side, right/side, mid/side), CRC-16
frame footers, and the STREAMINFO MD5 of the unencoded samples.

The DECODER handles the full 16-bit subset above — including LPC and
all three decorrelation modes, which real encoders emit constantly.
The ENCODER is honest about being a corpus stager, not libflac: it
emits CONSTANT / FIXED(0-4) / VERBATIM subframes (whichever is
smallest), optional wasted-bits folding, optional stereo
decorrelation, and — for decode-coverage staging — genuine LPC
subframes with caller-chosen quantized coefficients (any coefficient
set yields a valid LPC frame; the residuals are computed with the same
integer predictor the decoder inverts, so the round trip is exact).

Everything is CRC-checked and the decoder verifies the STREAMINFO MD5
over the reconstructed little-endian sample bytes, so a torn or
bit-flipped file fails loudly at the damaged frame, never silently.

No external FLAC implementation exists in this environment, so
cross-validation is structural: exhaustive lossless round-trip
property tests (all subframe types, all decorrelation modes, wasted
bits, multi-partition residuals, escaped partitions) plus
corruption-detection properties in tests/test_flac_codec.py. Reference
seam being replaced: the reference engine has no media ingest at all
(pandas/requests plumbing only).
"""

from __future__ import annotations

import hashlib

from .bitio import MsbReader, MsbWriter, zigzag_decode, zigzag_encode

# ------------------------------------------------------------- CRCs


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the FLAC
    frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 — the
    FLAC whole-frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


# ---------------------------------------------------------- bit I/O


def write_unary(bw: MsbWriter, q: int) -> None:
    """q zeros then a 1."""
    while q >= 32:
        bw.write(0, 32)
        q -= 32
    bw.write(1, q + 1)


def signed(br: MsbReader, n: int) -> int:
    v = br.read(n)
    return v - (1 << n) if v >= (1 << (n - 1)) else v


def unary(br: MsbReader) -> int:
    q = 0
    while br.read(1) == 0:
        q += 1
        if q > 1 << 20:
            raise ValueError("runaway unary code in FLAC stream")
    return q


# --------------------------------------------- coded numbers & rice


def _utf8_encode(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (up to 36 bits, 7 bytes)."""
    if n < 0x80:
        return bytes([n])
    for nb in range(2, 8):
        if n < (1 << (5 * nb + 1)):
            break
    else:
        raise ValueError("coded number out of range")
    out = [0] * nb
    for i in range(nb - 1, 0, -1):
        out[i] = 0x80 | (n & 0x3F)
        n >>= 6
    out[0] = ((0xFF << (8 - nb)) & 0xFF) | n
    return bytes(out)


def _utf8_decode(br: MsbReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nb = 0
    mask = 0x80
    while b0 & mask:
        nb += 1
        mask >>= 1
    if nb < 2 or nb > 7:
        raise ValueError("invalid coded number in FLAC frame header")
    v = b0 & (0x7F >> nb)
    for _ in range(nb - 1):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid coded-number continuation byte")
        v = (v << 6) | (c & 0x3F)
    return v


def _rice_cost(res: list[int], k: int) -> int:
    return sum((zigzag_encode(r) >> k) + 1 + k for r in res)


def _best_rice_k(res: list[int]) -> int:
    best_k, best_c = 0, _rice_cost(res, 0)
    for k in range(1, 15):
        c = _rice_cost(res, k)
        if c < best_c:
            best_k, best_c = k, c
    return best_k


# -------------------------------------------------- fixed predictors

# row n = the order-n fixed predictor's coefficients over s[i-1..i-n]
_FIXED_COEFS = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _fixed_residual(s: list[int], order: int) -> list[int]:
    co = _FIXED_COEFS[order]
    return [
        s[i] - sum(c * s[i - 1 - j] for j, c in enumerate(co))
        for i in range(order, len(s))
    ]


def _fixed_restore(warm: list[int], res: list[int], order: int) -> list[int]:
    co = _FIXED_COEFS[order]
    s = list(warm)
    for r in res:
        i = len(s)
        s.append(r + sum(c * s[i - 1 - j] for j, c in enumerate(co)))
    return s


# ------------------------------------------------------------ encode


def _write_residual(
    bw: MsbWriter,
    res: list[int],
    blocksize: int,
    order: int,
    partition_order: int,
    force_escape: bool = False,
) -> None:
    """Rice method 0 residual: 2-bit method, 4-bit partition order, then
    per partition a 4-bit parameter (0b1111 escapes to 5-bit raw width)."""
    bw.write(0, 2)
    bw.write(partition_order, 4)
    nparts = 1 << partition_order
    if blocksize % nparts or (blocksize >> partition_order) <= order and nparts > 1:
        raise ValueError("invalid partition order for block")
    idx = 0
    for p in range(nparts):
        n = (blocksize >> partition_order) - (order if p == 0 else 0)
        part = res[idx : idx + n]
        idx += n
        if force_escape:
            width = max((abs(v).bit_length() + 1 for v in part), default=1)
            bw.write(0xF, 4)
            bw.write(width, 5)
            for v in part:
                bw.write(v, width)
            continue
        k = _best_rice_k(part)
        bw.write(k, 4)
        for v in part:
            u = zigzag_encode(v)
            write_unary(bw, u >> k)
            if k:
                bw.write(u & ((1 << k) - 1), k)


def _subframe_header(bw: MsbWriter, ftype: int, wasted: int) -> None:
    bw.write(0, 1)  # mandatory zero pad
    bw.write(ftype, 6)
    if wasted:
        bw.write(1, 1)
        write_unary(bw, wasted - 1)
    else:
        bw.write(0, 1)


def _encode_subframe(
    bw: MsbWriter,
    s: list[int],
    bps: int,
    force: str | None,
    partition_order: int,
    lpc: tuple[list[int], int] | None,
    force_escape: bool = False,
) -> None:
    blocksize = len(s)
    # wasted bits: fold out the samples' common trailing zero bits
    wasted = 0
    if force is None and any(s):
        wasted = min((v & -v).bit_length() - 1 if v else bps for v in s)
        wasted = max(0, min(wasted, bps - 1))
    if wasted:
        s = [v >> wasted for v in s]
    eff = bps - wasted

    if lpc is not None:
        coefs, shift = lpc
        order = len(coefs)
        prec = max(c.bit_length() + 1 for c in coefs)
        prec = max(2, min(prec, 15))
        res = [
            s[i] - (sum(c * s[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, blocksize)
        ]
        _subframe_header(bw, 0x20 | (order - 1), wasted)
        for v in s[:order]:
            bw.write(v, eff)
        bw.write(prec - 1, 4)
        bw.write(shift, 5)
        for c in coefs:
            bw.write(c, prec)
        _write_residual(bw, res, blocksize, order, partition_order, force_escape)
        return

    if force != "verbatim" and len(set(s)) == 1:
        _subframe_header(bw, 0x00, wasted)
        bw.write(s[0], eff)
        return

    best = None  # (cost, order, res)
    if force != "verbatim":
        for order in range(min(4, blocksize - 1) + 1):
            if blocksize >> partition_order <= order and partition_order:
                continue
            res = _fixed_residual(s, order)
            cost = order * eff + _rice_cost(res, _best_rice_k(res))
            if best is None or cost < best[0]:
                best = (cost, order, res)
    if best is not None and best[0] < blocksize * eff:
        _cost, order, res = best
        _subframe_header(bw, 0x08 | order, wasted)
        for v in s[:order]:
            bw.write(v, eff)
        _write_residual(bw, res, blocksize, order, partition_order, force_escape)
    else:
        _subframe_header(bw, 0x01, wasted)
        for v in s:
            bw.write(v, eff)


def _frame_channels(
    chans: list[list[int]], stereo_mode: str
) -> tuple[int, list[tuple[list[int], int]]]:
    """(channel-assignment bits, [(samples, extra_bps)] per subframe)."""
    if len(chans) == 1:
        return 0, [(chans[0], 0)]
    if stereo_mode == "independent":
        return 1, [(chans[0], 0), (chans[1], 0)]
    left, right = chans
    side = [a - b for a, b in zip(left, right)]
    if stereo_mode == "left_side":
        return 8, [(left, 0), (side, 1)]
    if stereo_mode == "right_side":
        return 9, [(side, 1), (right, 0)]
    if stereo_mode == "mid_side":
        mid = [(a + b) >> 1 for a, b in zip(left, right)]
        return 10, [(mid, 0), (side, 1)]
    raise ValueError(f"unknown stereo mode {stereo_mode!r}")


def encode_flac(
    samples: list[int],
    n_channels: int = 1,
    sample_rate: int = 8000,
    bps: int = 16,
    block_size: int = 4096,
    stereo_mode: str = "independent",
    force: str | None = None,
    partition_order: int = 0,
    lpc: tuple[list[int], int] | None = None,
    force_escape: bool = False,
) -> bytes:
    """Real interchange FLAC bytes from interleaved integer samples.

    ``force='verbatim'`` pins every subframe to VERBATIM; ``lpc=(coefs,
    shift)`` emits genuine LPC subframes with the given quantized
    coefficients (decode-coverage staging — any coefficient set is a
    valid predictor and the integer round trip is exact);
    ``stereo_mode`` picks the decorrelation; ``partition_order``
    partitions the Rice residual; ``force_escape`` stores every
    partition in escaped raw-bits form."""
    if n_channels not in (1, 2):
        raise ValueError("subset encoder: 1 or 2 channels")
    if len(samples) % n_channels:
        raise ValueError("interleaved sample count not divisible by channels")
    lo, hi = -(1 << (bps - 1)), (1 << (bps - 1)) - 1
    if any(v < lo or v > hi for v in samples):
        raise ValueError(f"sample out of {bps}-bit range")
    n_frames_total = len(samples) // n_channels

    md5 = hashlib.md5()
    width = (bps + 7) // 8
    for v in samples:
        md5.update(int(v).to_bytes(width, "little", signed=True))

    out = bytearray(b"fLaC")
    si = MsbWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(n_channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n_frames_total, 36)
    streaminfo = si.getvalue() + md5.digest()
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo

    for fno, start in enumerate(range(0, n_frames_total, block_size)):
        n = min(block_size, n_frames_total - start)
        chans = [
            samples[(start + i) * n_channels + c]
            for c in range(n_channels)
            for i in range(n)
        ]
        chans = [chans[c * n : (c + 1) * n] for c in range(n_channels)]
        chan_bits, subs = _frame_channels(chans, stereo_mode)

        bw = MsbWriter()
        bw.write(0x3FFE, 14)  # sync
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocking strategy
        bw.write(0x7, 4)  # block size: 16-bit at end of header
        bw.write(0x0, 4)  # sample rate: from STREAMINFO
        bw.write(chan_bits, 4)
        bw.write(0x4 if bps == 16 else {8: 1, 12: 2, 20: 5, 24: 6}[bps], 3)
        bw.write(0, 1)  # reserved
        for b in _utf8_encode(fno):
            bw.write(b, 8)
        bw.write(n - 1, 16)
        bw.write(_crc8(bw.getvalue()), 8)
        po = partition_order if n % (1 << partition_order) == 0 else 0
        for s, extra in subs:
            _encode_subframe(bw, s, bps + extra, force, po, lpc, force_escape)
        bw.write(0, -bw.tell() & 7)  # byte-align before the CRC-16
        bw.write(_crc16(bw.getvalue()), 16)
        out += bw.getvalue()
    return bytes(out)


# ------------------------------------------------------------ decode


def _read_residual(
    br: MsbReader, blocksize: int, order: int
) -> list[int]:
    method = br.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    if blocksize % (1 << po):
        raise ValueError("block size not divisible by partition count")
    res: list[int] = []
    for p in range(1 << po):
        n = (blocksize >> po) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("partition smaller than predictor order")
        k = br.read(pbits)
        if k == escape:
            width = br.read(5)
            res += [signed(br, width) if width else 0 for _ in range(n)]
        else:
            for _ in range(n):
                q = unary(br)
                u = (q << k) | (br.read(k) if k else 0)
                res.append(zigzag_decode(u))
    return res


def _decode_subframe(br: MsbReader, blocksize: int, bps: int) -> list[int]:
    if br.read(1):
        raise ValueError("subframe header pad bit set")
    ftype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = unary(br) + 1
    eff = bps - wasted
    if ftype == 0x00:  # CONSTANT
        s = [signed(br, eff)] * blocksize
    elif ftype == 0x01:  # VERBATIM
        s = [signed(br, eff) for _ in range(blocksize)]
    elif 0x08 <= ftype <= 0x0C:  # FIXED 0-4
        order = ftype & 0x07
        warm = [signed(br, eff) for _ in range(order)]
        s = _fixed_restore(warm, _read_residual(br, blocksize, order), order)
    elif ftype >= 0x20:  # LPC
        order = (ftype & 0x1F) + 1
        warm = [signed(br, eff) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision escape")
        shift = br.read(5)
        if shift >= 16:  # signed 5-bit; negative shifts are spec-dead
            raise ValueError("negative LPC shift unsupported")
        coefs = [signed(br, prec) for _ in range(order)]
        s = list(warm)
        res = _read_residual(br, blocksize, order)
        for r in res:
            i = len(s)
            pred = sum(c * s[i - 1 - j] for j, c in enumerate(coefs)) >> shift
            s.append(r + pred)
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype:#04x}")
    if wasted:
        s = [v << wasted for v in s]
    return s


_BLOCKSIZE_TAB = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                  8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                  13: 8192, 14: 16384, 15: 32768}
_SAMPLESIZE_TAB = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def decode_flac(data: bytes) -> tuple[int, int, int, list[int]]:
    """(sample_rate, n_channels, bits_per_sample, interleaved samples).
    Verifies every frame-header CRC-8, every frame CRC-16, and the
    STREAMINFO MD5 over the reconstructed sample bytes — corruption
    fails loudly at the damaged frame, never silently."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        hdr = data[pos]
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError("truncated FLAC metadata block")
        if hdr & 0x7F == 0:
            streaminfo = body
        pos += 4 + length
        if hdr & 0x80:
            break
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("FLAC stream missing STREAMINFO")
    sr = int.from_bytes(streaminfo[10:13], "big") >> 4
    n_ch = ((streaminfo[12] >> 1) & 0x7) + 1
    bps = (((streaminfo[12] & 1) << 4) | (streaminfo[13] >> 4)) + 1
    total = int.from_bytes(streaminfo[13:18], "big") & ((1 << 36) - 1)
    want_md5 = streaminfo[18:34]

    out: list[int] = []
    got = 0
    while got < total:
        frame_start = pos
        br = MsbReader(data, pos * 8)
        if br.read(14) != 0x3FFE:
            raise ValueError(f"bad FLAC frame sync at byte {pos}")
        if br.read(1):
            raise ValueError("reserved bit set in frame header")
        br.read(1)  # blocking strategy
        bs_bits = br.read(4)
        sr_bits = br.read(4)
        chan = br.read(4)
        ss_bits = br.read(3)
        if br.read(1):
            raise ValueError("reserved bit set in frame header")
        _num = _utf8_decode(br)
        if bs_bits == 0:
            raise ValueError("reserved block size code")
        elif bs_bits == 6:
            blocksize = br.read(8) + 1
        elif bs_bits == 7:
            blocksize = br.read(16) + 1
        else:
            blocksize = _BLOCKSIZE_TAB[bs_bits]
        if sr_bits == 12:
            br.read(8)
        elif sr_bits in (13, 14):
            br.read(16)
        elif sr_bits == 15:
            raise ValueError("invalid sample-rate code")
        hdr_end = br.pos // 8
        if _crc8(data[frame_start:hdr_end]) != br.read(8):
            raise ValueError(f"FLAC frame header CRC-8 mismatch at byte {frame_start}")
        fbps = bps if ss_bits == 0 else _SAMPLESIZE_TAB.get(ss_bits)
        if fbps is None:
            raise ValueError("reserved sample-size code")
        if chan <= 7:
            nch = chan + 1
            chans = [_decode_subframe(br, blocksize, fbps) for _ in range(nch)]
        elif chan in (8, 9, 10):
            nch = 2
            extra0 = 1 if chan == 9 else 0
            extra1 = 1 if chan in (8, 10) else 0
            c0 = _decode_subframe(br, blocksize, fbps + extra0)
            c1 = _decode_subframe(br, blocksize, fbps + extra1)
            if chan == 8:  # left/side
                chans = [c0, [a - b for a, b in zip(c0, c1)]]
            elif chan == 9:  # right/side
                chans = [[a + b for a, b in zip(c1, c0)], c1]
            else:  # mid/side
                left, right = [], []
                for m, s_ in zip(c0, c1):
                    m = (m << 1) | (s_ & 1)
                    left.append((m + s_) >> 1)
                    right.append((m - s_) >> 1)
                chans = [left, right]
        else:
            raise ValueError("reserved channel assignment")
        if nch != n_ch:
            raise ValueError("frame channel count differs from STREAMINFO")
        br.align()
        crc_pos = br.pos // 8
        if _crc16(data[frame_start:crc_pos]) != br.read(16):
            raise ValueError(f"FLAC frame CRC-16 mismatch at byte {frame_start}")
        pos = br.pos // 8
        for i in range(blocksize):
            for c in range(nch):
                out.append(chans[c][i])
        got += blocksize

    if got != total:
        raise ValueError("decoded sample count differs from STREAMINFO")
    md5 = hashlib.md5()
    width = (bps + 7) // 8
    for v in out:
        md5.update(int(v).to_bytes(width, "little", signed=True))
    if md5.digest() != want_md5:
        raise ValueError("FLAC STREAMINFO MD5 mismatch: decoded audio corrupt")
    return sr, n_ch, bps, out

"""AAC stream structure (ISO/IEC 14496-3) — parameter probing, pure
stdlib.  The filter-before-decode pass for the dominant compressed-audio
format in crawled MP4/ADTS corpora, mirroring what operators/mp3.py does
for MP3: frame walk, parameter extraction, duration accounting — the
metadata a corpus pipeline filters/joins on BEFORE shipping payload
bytes to a decode fleet.

Written from the public spec structure:

- **ADTS** (14496-3 §1.A.3.2): 0xFFF syncword, MPEG version, layer,
  protection_absent, profile (audioObjectType - 1), the 13-entry
  sampling-frequency table, channel configuration, 13-bit frame length
  (header-inclusive), buffer fullness, raw-data-block count, and the
  optional 16-bit CRC field (consumed structurally when
  protection_absent = 0; its value covers raw-data-block bits this
  module does not decode, so it is surfaced, not validated — claiming
  validation without decoding would be dishonest).
- **AudioSpecificConfig** (14496-3 §1.6.2.1): 5-bit audioObjectType
  (+6-bit escape form), 4-bit frequency index with the 24-bit explicit
  escape, 4-bit channel configuration, GASpecificConfig's
  frameLengthFlag (1024/960-sample frames).
- **esds** (14496-1 §7.2.6): the MP4 elementary-stream descriptor chain
  ES_Descriptor(0x03) -> DecoderConfigDescriptor(0x04, objectTypeIndication
  0x40 = MPEG-4 Audio) -> DecoderSpecificInfo(0x05, the
  AudioSpecificConfig), with the spec's variable-length size encoding.

Psychoacoustic payload decode (huffman spectral data, IMDCT, TNS, M/S)
stays a LOUD NotImplementedError seam: no independent AAC decoder
exists in this container to cross-validate against, and an unverifiable
decoder is worse than a documented seam.  (FLAC decodes here because it
is lossless — exact sample recovery IS the oracle; AAC is not.)
"""

from __future__ import annotations

import struct

from .bitio import MsbReader

# 14496-3 Table 1.18 — samplingFrequencyIndex
SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350,
)

# profile field = audioObjectType - 1 for ADTS (2 bits: Main/LC/SSR/LTP)
ADTS_PROFILES = ("Main", "LC", "SSR", "LTP")


def decode_aac(_frames) -> list:
    """The documented seam."""
    raise NotImplementedError(
        "aac: psychoacoustic payload decode (huffman spectral data, "
        "IMDCT) needs an external codec — probe_adts/parse_asc extract "
        "the stream parameters a pipeline filters on"
    )


# ------------------------------------------------------------------ ADTS


def write_adts(
    payloads: list,
    rate_index: int,
    channels: int,
    profile: str = "LC",
    crc: bool = False,
) -> bytes:
    """Serialize raw-data-block ``payloads`` (opaque bytes — this module
    does not encode audio) into a spec-shaped ADTS stream: one frame per
    payload, header-inclusive 13-bit lengths, buffer fullness 0x7FF
    (VBR convention).  ``crc=True`` writes protection_absent=0 with a
    deterministic CRC field (two bytes derived from the payload length —
    structural, see module docstring)."""
    if not 0 <= rate_index < len(SAMPLE_RATES):
        raise ValueError(f"aac: bad sampling_frequency_index {rate_index}")
    if not 1 <= channels <= 7:
        raise ValueError(f"aac: bad channel_configuration {channels}")
    prof = ADTS_PROFILES.index(profile)
    out = bytearray()
    hdr_len = 9 if crc else 7
    for p in payloads:
        flen = hdr_len + len(p)
        if flen >= 1 << 13:
            raise ValueError("aac: frame too long for 13-bit field")
        b = bytearray(hdr_len)
        b[0] = 0xFF
        b[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if crc else 1)
        b[2] = (prof << 6) | (rate_index << 2) | (0 << 1) | (channels >> 2)
        b[3] = ((channels & 0x3) << 6) | (flen >> 11)
        b[4] = (flen >> 3) & 0xFF
        b[5] = ((flen & 0x7) << 5) | 0x1F  # fullness 0x7FF high bits
        b[6] = 0xFC  # fullness low bits + number_of_raw_data_blocks-1 = 0
        if crc:
            b[7], b[8] = len(p) & 0xFF, (len(p) >> 8) & 0xFF
        out += bytes(b) + p
    return bytes(out)


def probe_adts(blob: bytes) -> dict:
    """Walk an ADTS stream frame-exactly.  Returns ``profile``,
    ``sample_rate``, ``channels``, ``n_frames``, ``sum_payload_bytes``,
    ``crc_frames``, ``duration_ms`` (1024 samples per raw data block).
    Broken sync, a mid-stream parameter change, or a frame running past
    the end raises — a torn stream costs its record."""
    n = len(blob)
    if n < 7:
        raise ValueError("aac: stream shorter than one ADTS header")
    pos = 0
    params = None
    n_frames = 0
    payload_bytes = 0
    crc_frames = 0
    while pos < n:
        if pos + 7 > n:
            raise ValueError("aac: trailing bytes are not an ADTS header")
        if blob[pos] != 0xFF or (blob[pos + 1] & 0xF6) != 0xF0:
            raise ValueError(f"aac: broken ADTS sync at byte {pos}")
        protection_absent = blob[pos + 1] & 0x1
        prof = blob[pos + 2] >> 6
        rate_index = (blob[pos + 2] >> 2) & 0xF
        if rate_index >= len(SAMPLE_RATES):
            raise ValueError(f"aac: reserved frequency index {rate_index}")
        channels = ((blob[pos + 2] & 0x1) << 2) | (blob[pos + 3] >> 6)
        flen = ((blob[pos + 3] & 0x3) << 11) | (blob[pos + 4] << 3) | (
            blob[pos + 5] >> 5
        )
        n_blocks = (blob[pos + 6] & 0x3) + 1
        hdr_len = 7 if protection_absent else 9
        if flen < hdr_len or pos + flen > n:
            raise ValueError(f"aac: frame at {pos} runs past end")
        this = (prof, rate_index, channels)
        if params is None:
            params = this
        elif params != this:
            raise ValueError(
                f"aac: mid-stream parameter change at byte {pos}"
            )
        if not protection_absent:
            crc_frames += 1
        n_frames += n_blocks
        payload_bytes += flen - hdr_len
        pos += flen
    prof, rate_index, channels = params
    rate = SAMPLE_RATES[rate_index]
    return {
        "profile": ADTS_PROFILES[prof],
        "sample_rate": rate,
        "channels": channels,
        "n_frames": n_frames,
        "sum_payload_bytes": payload_bytes,
        "crc_frames": crc_frames,
        "duration_ms": n_frames * 1024 * 1000 // rate,
    }


# ------------------------------------------- AudioSpecificConfig + esds


def parse_asc(asc: bytes) -> dict:
    """Parse an AudioSpecificConfig: ``aot``, ``sample_rate``,
    ``channels``, ``frame_length`` (1024/960 per GASpecificConfig's
    frameLengthFlag for the GA object types)."""
    b = MsbReader(asc)
    aot = b.read(5)
    if aot == 31:
        aot = 32 + b.read(6)
    fidx = b.read(4)
    rate = b.read(24) if fidx == 15 else None
    if rate is None:
        if fidx >= len(SAMPLE_RATES):
            raise ValueError(f"aac: reserved frequency index {fidx}")
        rate = SAMPLE_RATES[fidx]
    channels = b.read(4)
    frame_length = None
    if aot in (1, 2, 3, 4, 6, 7, 17, 19, 20, 21, 22, 23):
        frame_length = 960 if b.read(1) else 1024
        if b.read(1):  # dependsOnCoreCoder
            b.read(14)
        b.read(1)  # extensionFlag
    return {
        "aot": aot,
        "sample_rate": rate,
        "channels": channels,
        "frame_length": frame_length,
    }


def write_asc(
    aot: int, rate_index: int, channels: int, frame_960: bool = False
) -> bytes:
    """Serialize a GA AudioSpecificConfig (the 2-byte common case:
    aot(5) freqIndex(4) channels(4) frameLengthFlag(1)
    dependsOnCoreCoder(1)=0 extensionFlag(1)=0)."""
    if not 1 <= aot <= 30 or not 0 <= rate_index < 15:
        raise ValueError("aac: ASC fields out of the 2-byte form's range")
    bits = (aot << 11) | (rate_index << 7) | (channels << 3) | (
        (1 if frame_960 else 0) << 2
    )
    return struct.pack(">H", bits)


def _desc(tag: int, body: bytes) -> bytes:
    # 14496-1 variable-length size: 7 bits per byte, high bit = continue
    n = len(body)
    size = bytes([n & 0x7F])
    n >>= 7
    while n:
        size = bytes([0x80 | (n & 0x7F)]) + size
        n >>= 7
    return bytes([tag]) + size + body


def write_esds(asc: bytes, avg_bitrate: int = 64000) -> bytes:
    """The esds FullBox body (version+flags, then the descriptor chain)
    carrying ``asc`` as DecoderSpecificInfo under objectTypeIndication
    0x40 (MPEG-4 Audio)."""
    dsi = _desc(0x05, asc)
    dcd = _desc(
        0x04,
        bytes([0x40, 0x15])  # OTI = MPEG-4 Audio, streamType = audio
        + (0).to_bytes(3, "big")          # bufferSizeDB
        + struct.pack(">II", avg_bitrate, avg_bitrate)
        + dsi,
    )
    sl = _desc(0x06, b"\x02")  # SLConfigDescriptor, predefined MP4
    es = _desc(0x03, struct.pack(">HB", 1, 0) + dcd + sl)
    return b"\x00\x00\x00\x00" + es


def _read_desc_header(buf: bytes, pos: int) -> tuple:
    tag = buf[pos]
    pos += 1
    size = 0
    for _ in range(4):
        b = buf[pos]
        pos += 1
        size = (size << 7) | (b & 0x7F)
        if not b & 0x80:
            break
    else:
        raise ValueError("aac: descriptor size runs past 4 bytes")
    return tag, size, pos


def parse_esds(body: bytes) -> dict:
    """Parse an esds FullBox body down to the AudioSpecificConfig.
    Returns ``parse_asc``'s dict plus ``object_type`` (the OTI) and
    ``avg_bitrate``.  A chain without a DecoderSpecificInfo, or an OTI
    that is not MPEG-4/MPEG-2 AAC, raises."""
    pos = 4  # version + flags
    tag, _size, pos = _read_desc_header(body, pos)
    if tag != 0x03:
        raise ValueError(f"aac: esds does not start with ES_Descriptor ({tag})")
    es_flags = body[pos + 2]
    pos += 3
    if es_flags & 0x80:
        pos += 2  # dependsOn_ES_ID
    if es_flags & 0x40:
        pos += 1 + body[pos]  # URL
    if es_flags & 0x20:
        pos += 2  # OCR_ES_ID
    tag, dcd_size, pos = _read_desc_header(body, pos)
    if tag != 0x04:
        raise ValueError("aac: missing DecoderConfigDescriptor")
    oti = body[pos]
    if oti not in (0x40, 0x66, 0x67, 0x68):  # MPEG-4 AAC, MPEG-2 AAC profiles
        raise ValueError(f"aac: objectTypeIndication {oti:#04x} is not AAC")
    avg_bitrate = struct.unpack_from(">I", body, pos + 9)[0]
    inner_end = pos + dcd_size
    pos += 13
    while pos < inner_end:
        tag, size, pos = _read_desc_header(body, pos)
        if tag == 0x05:
            out = parse_asc(body[pos : pos + size])
            out["object_type"] = oti
            out["avg_bitrate"] = avg_bitrate
            return out
        pos += size
    raise ValueError("aac: esds has no DecoderSpecificInfo")

"""ZIP (PKZIP / APPNOTE.TXT) container codec — pure stdlib, own walker.

Written from the public PKWARE APPNOTE.TXT layout: local file headers,
central directory entries, end-of-central-directory record; methods 0
(stored) and 8 (deflate, raw zlib streams).  Cross-validated BOTH
directions against CPython's independent ``zipfile`` module in
tests/test_pkzip.py — archives we write open in zipfile, archives
zipfile writes open here.

Why this exists: next to WebDataset tar shards (operators/tar.py), ZIP
is the other container training corpora actually arrive in (Kaggle
dumps, ImageNet-style archives, document dumps).  Spark's binaryFile
scan hands the engine whole shards; this walker turns one shard blob
into members inside the Arrow kernel with per-member integrity:

- the reader walks the CENTRAL DIRECTORY (the authoritative index per
  the spec), not a linear local-header scan — entries deleted or
  orphaned in the stream are correctly invisible;
- every member's CRC-32 and declared sizes are verified on extraction;
  a mismatch raises, so a torn shard costs its record, never the job;
- ZIP64 (APPNOTE 4.5) is read for real: the zip64 EOCD locator + record
  resolve sentinel directory counts/offsets, and per-member 0x0001
  extended-information extra fields resolve sentinel sizes/offsets —
  at 100 TB, >4 GiB shards are routine, not a seam.  ``write_zip``
  can force the zip64 layout on small archives (the spec allows
  sentinels regardless of actual size), which is how both directions
  stay cross-validated against ``zipfile`` without staging 4 GiB.
"""

from __future__ import annotations

import struct
import zlib

from .compression import decompress

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"
_EOCD64_SIG = b"PK\x06\x06"
_EOCD64_LOC_SIG = b"PK\x06\x07"
# fixed DOS timestamp (1980-01-01 00:00:00) — shards are deterministic
_DOS_TIME, _DOS_DATE = 0, 0x21


# ------------------------------------------------- traditional encryption
# APPNOTE 6.1 "traditional PKWARE encryption" (ZipCrypto).  Weak by
# modern standards — this is a CORPUS CODEC for reading the
# password-protected legacy archives real document dumps contain (and
# for staging fixtures), not a confidentiality mechanism.  Our encryptor
# is cross-validated against CPython zipfile's independent DECRYPTOR in
# tests/test_pkzip.py.


def _zc_crc(crc: int, b: int) -> int:
    # one-byte CRC-32 step via zlib (pre/post-conditioning cancelled)
    return (zlib.crc32(bytes([b]), crc ^ 0xFFFFFFFF) ^ 0xFFFFFFFF) & 0xFFFFFFFF


class _ZipCrypto:
    def __init__(self, password: bytes):
        self.k0, self.k1, self.k2 = 0x12345678, 0x23456789, 0x34567890
        for b in password:
            self._update(b)

    def _update(self, b: int) -> None:
        self.k0 = _zc_crc(self.k0, b)
        self.k1 = ((self.k1 + (self.k0 & 0xFF)) * 134775813 + 1) & 0xFFFFFFFF
        self.k2 = _zc_crc(self.k2, self.k1 >> 24)

    def _stream_byte(self) -> int:
        t = (self.k2 | 2) & 0xFFFF
        return ((t * (t ^ 1)) >> 8) & 0xFF

    def encrypt(self, data: bytes) -> bytes:
        out = bytearray(len(data))
        for i, p in enumerate(data):
            out[i] = p ^ self._stream_byte()
            self._update(p)
        return bytes(out)

    def decrypt(self, data: bytes) -> bytes:
        out = bytearray(len(data))
        for i, c in enumerate(data):
            p = c ^ self._stream_byte()
            self._update(p)
            out[i] = p
        return bytes(out)


def zipcrypto_seal(payload: bytes, password: bytes, crc: int,
                   seed: bytes) -> bytes:
    """Encrypt a member payload: the 12-byte encryption header (11
    ``seed`` bytes + the CRC high byte — the spec's password check)
    followed by the payload, one keystream."""
    zc = _ZipCrypto(password)
    header = seed[:11].ljust(11, b"\x00") + bytes([(crc >> 24) & 0xFF])
    return zc.encrypt(header) + zc.encrypt(payload)


def zipcrypto_open(sealed: bytes, password: bytes, crc: int) -> bytes:
    """Decrypt a sealed payload, verifying the header check byte — a
    wrong password fails here loudly (~1/256 false-accept per spec,
    backstopped by the member CRC check after inflate)."""
    if len(sealed) < 12:
        raise ValueError("zip: encrypted member shorter than its header")
    zc = _ZipCrypto(password)
    header = zc.decrypt(sealed[:12])
    if header[11] != (crc >> 24) & 0xFF:
        raise ValueError("zip: wrong password (encryption header check)")
    return zc.decrypt(sealed[12:])


def write_zip(members: list, force_zip64: bool = False,
              password: bytes | None = None) -> bytes:
    """Serialize ``[(name, data, method)]`` (method 'stored'|'deflated')
    into a spec-valid archive: local headers + payloads, then the
    central directory and EOCD.  ``force_zip64`` writes the full ZIP64
    layout (sentinel fields + 0x0001 extras + zip64 EOCD record and
    locator) even when sizes fit 32 bits — the spec-sanctioned way to
    exercise the >4 GiB shard path without staging 4 GiB.  ``password``
    seals every member with traditional (ZipCrypto) encryption: flag
    bit 0 set, a 12-byte encryption header prepended (its seed derived
    from name+crc for deterministic staging; the spec says random),
    compressed size grown by 12."""
    out = bytearray()
    central = bytearray()
    version = 45 if force_zip64 else 20
    flags_base = 0x800 | (0x1 if password is not None else 0)
    for name, data, method in members:
        nm = name.encode("utf-8")
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if method == "deflated":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(data) + co.flush()
            m = 8
        elif method == "stored":
            payload, m = data, 0
        else:
            raise ValueError(f"unknown method {method!r}")
        if password is not None:
            import hashlib

            payload = zipcrypto_seal(
                payload, password, crc,
                hashlib.md5(nm + struct.pack("<I", crc)).digest(),
            )
        off = len(out)
        need64 = force_zip64 or max(len(payload), len(data)) > 0xFFFFFFFE \
            or off > 0xFFFFFFFE
        if need64:
            # sentinel sizes in the fixed fields; real ones ride in the
            # 0x0001 extended-information extra (APPNOTE 4.5.3: the
            # LOCAL extra must carry both original and compressed size)
            l_extra = struct.pack(
                "<HHQQ", 0x0001, 16, len(data), len(payload)
            )
            c_extra = struct.pack(
                "<HHQQQ", 0x0001, 24, len(data), len(payload), off
            )
            l_common = struct.pack(
                "<HHHHHIII", version, flags_base, m, _DOS_TIME, _DOS_DATE, crc,
                0xFFFFFFFF, 0xFFFFFFFF,
            )
            out += (
                _LOCAL_SIG + l_common
                + struct.pack("<HH", len(nm), len(l_extra)) + nm + l_extra
            )
            central += (
                _CENTRAL_SIG + struct.pack("<H", version) + l_common
                + struct.pack(
                    "<HHHHHII", len(nm), len(c_extra), 0, 0, 0, 0,
                    0xFFFFFFFF,
                )
                + nm + c_extra
            )
        else:
            # flag 0x800: names are UTF-8 (APPNOTE D.2) — without it
            # readers must assume cp437 and non-ASCII names round-trip
            # wrong
            common = struct.pack(
                "<HHHHHIII", version, flags_base, m, _DOS_TIME, _DOS_DATE, crc,
                len(payload), len(data),
            )
            out += _LOCAL_SIG + common + struct.pack("<HH", len(nm), 0) + nm
            central += (
                _CENTRAL_SIG + struct.pack("<H", version) + common
                + struct.pack("<HHHHHII", len(nm), 0, 0, 0, 0, 0, off)
                + nm
            )
        out += payload
    cd_off = len(out)
    out += central
    n = len(members)
    if force_zip64 or n > 0xFFFE or cd_off > 0xFFFFFFFE:
        eocd64_at = len(out)
        out += _EOCD64_SIG + struct.pack(
            "<QHHIIQQQQ", 44, version, version, 0, 0, n, n,
            len(central), cd_off,
        )
        out += _EOCD64_LOC_SIG + struct.pack("<IQI", 0, eocd64_at, 1)
        out += _EOCD_SIG + struct.pack(
            "<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0
        )
    else:
        out += _EOCD_SIG + struct.pack(
            "<HHHHIIH", 0, 0, n, n, len(central), cd_off, 0
        )
    return bytes(out)


def _find_eocd(blob: bytes) -> int:
    # EOCD is within the last 64 KiB + 22 bytes (max comment); take the
    # LAST signature occurrence so a signature inside member data or the
    # comment of an embedded archive cannot hijack the walk
    window_start = max(0, len(blob) - 65536 - 22)
    i = blob.rfind(_EOCD_SIG, window_start)
    if i < 0:
        raise ValueError("zip: no end-of-central-directory record")
    return i


def _zip64_fields(extra: bytes, sentinels: list) -> list:
    """Resolve sentinel central-directory fields from the 0x0001
    extended-information extra block (APPNOTE 4.5.3).  ``sentinels`` is
    ``[(value, width)]`` in spec order (usize, csize, lho, disk): each
    8-byte (4 for disk) replacement is present in the extra ONLY for
    fields whose fixed value is the sentinel."""
    body = None
    pos = 0
    while pos + 4 <= len(extra):
        hid, hlen = struct.unpack_from("<HH", extra, pos)
        if pos + 4 + hlen > len(extra):
            raise ValueError("zip: extra field runs past its block")
        if hid == 0x0001:
            body = extra[pos + 4 : pos + 4 + hlen]
            break
        pos += 4 + hlen
    out = []
    at = 0
    sentinel = {8: 0xFFFFFFFF, 4: 0xFFFF}
    for value, width in sentinels:
        if value == sentinel[width]:
            if body is None:
                raise ValueError(
                    "zip: sentinel field without a zip64 extra block"
                )
            if at + width > len(body):
                raise ValueError("zip: zip64 extra block too short")
            value = int.from_bytes(body[at : at + width], "little")
            at += width
        out.append(value)
    return out


def read_zip(blob: bytes, password: bytes | None = None) -> list:
    """Walk the central directory and extract every member with CRC and
    size verification.  Returns ``[(name, data, method)]`` in directory
    order.  ZIP64 archives (sentinel EOCD fields resolved through the
    zip64 EOCD locator + record; sentinel member fields through 0x0001
    extras) read natively; traditionally-encrypted (ZipCrypto) members
    decrypt when ``password`` is given — an encrypted member with no
    password, or a wrong password, raises."""
    e = _find_eocd(blob)
    (_dn, _d, n_here, n_total, cd_size, cd_off, _cl) = struct.unpack_from(
        "<HHHHIIH", blob, e + 4
    )
    if 0xFFFF in (n_here, n_total) or 0xFFFFFFFF in (cd_size, cd_off):
        # ZIP64 (APPNOTE 4.5): the locator sits immediately before the
        # EOCD and points at the zip64 EOCD record
        if e < 20 or blob[e - 20 : e - 16] != _EOCD64_LOC_SIG:
            raise ValueError(
                "zip: sentinel EOCD fields but no zip64 EOCD locator"
            )
        loc_disk, eocd64_at, n_disks = struct.unpack_from(
            "<IQI", blob, e - 16
        )
        if loc_disk != 0 or n_disks > 1:
            raise ValueError("zip: multi-disk zip64 archive")
        if blob[eocd64_at : eocd64_at + 4] != _EOCD64_SIG:
            raise ValueError("zip: zip64 EOCD locator offset is wrong")
        (
            _rsize, _vmade64, _vneed64, disk, cd_disk, n_here, n_total,
            cd_size, cd_off,
        ) = struct.unpack_from("<QHHIIQQQQ", blob, eocd64_at + 4)
        if disk != 0 or cd_disk != 0:
            raise ValueError("zip: multi-disk zip64 archive")
    if n_here != n_total:
        raise ValueError("zip: split archive (disk entry count mismatch)")
    if cd_off + cd_size > len(blob):
        raise ValueError("zip: central directory runs past end")
    out = []
    pos = cd_off
    for _i in range(n_total):
        if blob[pos : pos + 4] != _CENTRAL_SIG:
            raise ValueError("zip: bad central directory signature")
        (
            _vmade, _vneed, flags, method, _t, _d2, crc, csize, usize,
            nlen, xlen, clen, _disk, _iattr, _eattr, lho,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", blob, pos + 4)
        if flags & 0x1 and password is None:
            raise ValueError("zip: encrypted member (no password supplied)")
        if flags & 0x8 and flags & 0x1:
            # with a data descriptor the header check byte is the DOS
            # time's high byte, and our deterministic writer never emits
            # descriptors — refuse rather than mis-verify
            raise NotImplementedError(
                "zip: encrypted member with data descriptor"
            )
        name = blob[pos + 46 : pos + 46 + nlen].decode("utf-8")
        if 0xFFFFFFFF in (csize, usize, lho):
            extra = blob[pos + 46 + nlen : pos + 46 + nlen + xlen]
            usize, csize, lho = _zip64_fields(
                extra, [(usize, 8), (csize, 8), (lho, 8)]
            )
        pos += 46 + nlen + xlen + clen
        # local header: its own name/extra lengths may differ (extra
        # fields are often local-only); trust the central sizes
        if blob[lho : lho + 4] != _LOCAL_SIG:
            raise ValueError(f"zip: bad local header for {name!r}")
        lnlen, lxlen = struct.unpack_from("<HH", blob, lho + 26)
        d0 = lho + 30 + lnlen + lxlen
        payload = blob[d0 : d0 + csize]
        if len(payload) != csize:
            raise ValueError(f"zip: member {name!r} payload truncated")
        if flags & 0x1:
            payload = zipcrypto_open(payload, password, crc)
        if method == 8:
            data = decompress("deflate", payload, limit=usize)
            mname = "deflated"
        elif method == 0:
            data, mname = payload, "stored"
        else:
            raise NotImplementedError(
                f"zip compression method {method} needs an external "
                "library — stored and deflate decode natively"
            )
        if len(data) != usize:
            raise ValueError(f"zip: member {name!r} size mismatch")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError(f"zip: member {name!r} CRC mismatch")
        out.append((name, data, mname))
    return out

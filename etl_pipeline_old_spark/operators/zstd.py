"""RFC 8878 Zstandard frames — own pure-stdlib decoder plus a
raw-block writer and the seekable-format container walk.

Why this exists: zstd is THE compressor of the modern corpus world
(Common Crawl secondary releases, HuggingFace dataset shards, parquet's
default-after-snappy codec), and this container ships no zstd binding
for Python (no ``zstandard`` wheel, no ``compression.zstd`` before
3.14).  A 100 TB ingester that cannot open ``.tar.zst`` or
zstd-compressed parquet column chunks drops the most common shard
format of the decade.

Conformance pin — the strong, xz-grade one: libzstd itself is in the
container twice (pyarrow's bundled codec and the ``zstd`` CLI), so
tests/test_zstd.py cross-validates BOTH directions against the
reference implementation: frames produced by libzstd (every block
type, 1- and 4-stream Huffman literals, predefined and FSE-described
sequence tables, treeless repeats, checksums) decode bit-exact here,
and frames this writer emits decompress through libzstd.  The
predefined FSE distributions and the literals/match-length code
baselines below are transcribed from RFC 8878 §3.1.1.3.2 — and the
cross-validation IS their conformance vector: one wrong cell decodes
reference frames to garbage, so a green differential pins every table
value empirically, not by roundtrip.

Implemented from the spec:

- frame header (window descriptor, single-segment, frame content
  size, dictionary-ID flags),
- RFC 8878 §5 dictionaries: FORMAT dictionaries (magic 0xEC30A437 —
  entropy tables preloaded as the frames' initial repeat/treeless
  targets, starting repeat offsets, content as window prefix) and RAW
  content dictionaries; a dictionary-keyed frame WITHOUT its
  dictionary fails loudly, never guesses,
- raw / RLE / compressed blocks,
- literals: raw, RLE, Huffman (1- and 4-stream with the jump table),
  treeless (previous table reuse within a frame),
- Huffman table from direct weights or FSE-compressed weights (the
  two-state interleaved decode with the implicit last weight),
- FSE: normalized-count header (variable-bit values, the repeat-zero
  escape), table spread (the ``(size>>1)+(size>>3)+3`` step walk with
  low-probability cells at the high end), predefined / RLE /
  compressed / repeat sequence-table modes,
- sequences: backward bitstream, LL→OF→ML state init order,
  OF→ML→LL extra-bit read order, LL→ML→OF update order, the three
  repeat offsets with the literals_length==0 shift,
- XXH64 content checksums (own implementation of the public
  algorithm; verified against every checksummed reference frame),
- skippable frames, multi-frame concatenation,
- the seekable-format seek table (skippable frame ``0x184D2A5E`` +
  ``0x8F92EAB1`` footer, public zstd contrib spec) for per-frame
  range reads — the xz-index / wikidump discipline for zstd shards.

Damage (bad magic, reserved block type, oversized literals, bitstream
overread, unconsumed bits, offset beyond history, checksum mismatch,
truncation) raises ValueError: one shard costs one record, never the
job.
"""

from __future__ import annotations

import struct

from .bitio import LsbReader
from .compression import MAX_OUTPUT

_MAGIC = 0xFD2FB528
_SKIP_MAGIC_LO = 0x184D2A50  # ..5F all skippable
_SEEK_SKIP_MAGIC = 0x184D2A5E
_SEEK_FOOT_MAGIC = 0x8F92EAB1
_MAX_WINDOW = 1 << 27  # 128 MiB guard — larger windows are hostile here

# ------------------------------------------------------------------ XXH64
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` — the frame-content checksum hash (low 32 bits
    go in the frame).  Pinned by the published empty-input vector and by
    every checksummed libzstd frame the differential tests decode."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        lanes = struct.unpack_from("<%dQ" % ((n // 32) * 4), data)
        for i in range(0, len(lanes), 4):
            v1 = (_rotl((v1 + lanes[i] * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + lanes[i + 1] * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + lanes[i + 2] * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + lanes[i + 3] * _P2) & _M64, 31) * _P1) & _M64
        pos = (n // 32) * 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = ((h * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while pos + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, pos)
        h ^= (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h, 27) * _P1) + _P4) & _M64
        pos += 8
    if pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h ^= (k * _P1) & _M64
        h = ((_rotl(h, 23) * _P2) + _P3) & _M64
        pos += 4
    while pos < n:
        h ^= (data[pos] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        pos += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ------------------------------------------------- backward bit reader
class _BackBits:
    """Backward bitstream (RFC 8878 §4.1): written forward
    little-endian, read from the top after dropping the 1-padding
    marker in the final byte.  ``peek`` may look past the start
    (zero-filled — Huffman peeks a full table_log even near the end);
    ``read`` past the start bumps ``over``, which the FSE two-state
    weight decode and the exact-consumption checks key off."""

    __slots__ = ("buf", "byte_pos", "acc", "nacc", "total", "consumed")

    def __init__(self, buf: bytes) -> None:
        if not buf:
            raise ValueError("zstd: empty bitstream")
        last = buf[-1]
        if last == 0:
            raise ValueError("zstd: corrupted bitstream padding")
        self.buf = buf
        self.byte_pos = len(buf) - 1
        self.nacc = last.bit_length() - 1  # drop the marker bit
        self.acc = last & ((1 << self.nacc) - 1)
        self.total = (len(buf) - 1) * 8 + self.nacc
        self.consumed = 0

    def _ensure(self, n: int) -> None:
        while self.nacc < n:
            if self.byte_pos == 0:
                short = n - self.nacc
                self.acc <<= short  # zero-fill past the start
                self.nacc = n
                break
            self.byte_pos -= 1
            self.acc = (self.acc << 8) | self.buf[self.byte_pos]
            self.nacc += 8

    def peek(self, n: int) -> int:
        self._ensure(n)
        return self.acc >> (self.nacc - n)

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self._ensure(n)
        self.consumed += n
        self.nacc -= n
        v = self.acc >> self.nacc
        self.acc &= (1 << self.nacc) - 1
        return v

    @property
    def over(self) -> int:
        return max(0, self.consumed - self.total)

    def exhausted_exactly(self) -> bool:
        return self.consumed == self.total


# ------------------------------------------------- FSE
def read_fse_counts(buf: bytes, max_symbol: int, max_acc: int):
    """Parse an FSE table description (RFC 8878 §4.1.1): returns
    ``(normalized_counts, accuracy_log, bytes_consumed)``."""
    bits = LsbReader(buf)
    acc = bits.read(4) + 5
    if acc > max_acc:
        raise ValueError(f"zstd: FSE accuracy log {acc} > max {max_acc}")
    table_size = 1 << acc
    remaining = table_size + 1
    threshold = table_size
    nb = acc + 1
    counts: list[int] = []
    prev_zero = False
    while remaining > 1:
        if prev_zero:
            rep = bits.read(2)
            while rep == 3:
                counts.extend((0, 0, 0))
                rep = bits.read(2)
            counts.extend((0,) * rep)
            prev_zero = False
            if len(counts) > max_symbol + 1:
                raise ValueError("zstd: FSE symbol count overflow")
            continue
        maxv = (2 * threshold - 1) - remaining
        v = bits.read(nb - 1)
        if (v & (threshold - 1)) < maxv:
            v &= threshold - 1
        else:
            v |= bits.read(1) << (nb - 1)
            if v >= threshold:
                v -= maxv
        proba = v - 1
        counts.append(proba)
        remaining -= 1 if proba < 0 else proba
        if remaining < 0:
            raise ValueError("zstd: FSE counts exceed table size")
        prev_zero = proba == 0
        if len(counts) > max_symbol + 1:
            raise ValueError("zstd: FSE symbol count overflow")
        while remaining < threshold and remaining > 1:
            nb -= 1
            threshold >>= 1
    return counts, acc, bits.align()


def build_fse_table(counts: list[int], acc: int):
    """Decode table from normalized counts: list of
    ``(symbol, nb_bits, baseline)`` per state (RFC 8878 §4.1.1)."""
    size = 1 << acc
    table = [0] * size
    high = size - 1
    for sym, p in enumerate(counts):
        if p == -1:
            table[high] = sym
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for sym, p in enumerate(counts):
        for _ in range(max(p, 0)):
            table[pos] = sym
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("zstd: FSE table spread did not close")
    nxt = [1 if p == -1 else p for p in counts]
    out = []
    for state in range(size):
        sym = table[state]
        x = nxt[sym]
        nxt[sym] = x + 1
        nb_bits = acc - (x.bit_length() - 1)
        baseline = (x << nb_bits) - size
        out.append((sym, nb_bits, baseline))
    return out


class _FseState:
    __slots__ = ("table", "acc", "state")

    def __init__(self, table, acc: int, br: _BackBits) -> None:
        self.table = table
        self.acc = acc
        self.state = br.read(acc)

    def symbol(self) -> int:
        return self.table[self.state][0]

    def update(self, br: _BackBits) -> None:
        _, nb, base = self.table[self.state]
        self.state = base + br.read(nb)


def _rle_table(symbol: int):
    """A one-state table: the RLE sequence-table mode (0-bit updates)."""
    return [(symbol, 0, 0)]


# ------------------------------------------------- Huffman
def _read_huffman_weights(src: bytes):
    """Huffman weights (RFC 8878 §4.2.1): direct 4-bit nibbles when the
    header byte is >= 128, else an FSE-compressed two-state stream.
    Returns ``(weights_without_last, bytes_consumed)``."""
    if not src:
        raise ValueError("zstd: empty Huffman description")
    head = src[0]
    if head >= 128:
        n = head - 127
        nbytes = (n + 1) // 2
        if len(src) < 1 + nbytes:
            raise ValueError("zstd: truncated Huffman weights")
        weights = []
        for i in range(n):
            b = src[1 + i // 2]
            weights.append(b >> 4 if i % 2 == 0 else b & 0xF)
        return weights, 1 + nbytes
    comp = src[1 : 1 + head]
    if len(comp) < head:
        raise ValueError("zstd: truncated Huffman weight stream")
    counts, acc, used = read_fse_counts(comp, 255, 6)
    table = build_fse_table(counts, acc)
    br = _BackBits(comp[used:])
    s1 = _FseState(table, acc, br)
    s2 = _FseState(table, acc, br)
    weights = []
    while True:
        weights.append(s1.symbol())
        s1.update(br)
        if br.over:
            weights.append(s2.symbol())
            break
        weights.append(s2.symbol())
        s2.update(br)
        if br.over:
            weights.append(s1.symbol())
            break
        if len(weights) > 255:
            raise ValueError("zstd: more than 255 Huffman weights")
    if len(weights) > 255:
        raise ValueError("zstd: more than 255 Huffman weights")
    return weights, 1 + head


def build_huffman_table(src: bytes):
    """Full Huffman decode table: ``(table, table_log, bytes_consumed)``
    where ``table[peek]`` is ``(symbol, nb_bits)`` — the direct-lookup
    construction, symbols filled by ascending weight from cell 0."""
    weights, used = _read_huffman_weights(src)
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("zstd: empty Huffman tree")
    table_log = total.bit_length()  # smallest 2^k > total
    if table_log > 11:
        raise ValueError("zstd: Huffman code length > 11")
    rest = (1 << table_log) - total
    if rest & (rest - 1):
        raise ValueError("zstd: Huffman weights do not close the tree")
    last_weight = rest.bit_length()  # log2(rest) + 1
    weights = weights + [last_weight]
    size = 1 << table_log
    table: list[tuple[int, int]] = [(-1, 0)] * size
    pos = 0
    for w in range(1, table_log + 1):
        span = 1 << (w - 1)
        nb = table_log + 1 - w
        for sym, sw in enumerate(weights):
            if sw == w:
                table[pos : pos + span] = [(sym, nb)] * span
                pos += span
    if pos != size:
        raise ValueError("zstd: Huffman table does not fill")
    return table, table_log, used


def _huffman_decode_stream(table, table_log: int, buf: bytes, n_out: int) -> bytearray:
    br = _BackBits(buf)
    out = bytearray(n_out)
    peek = br.peek
    read = br.read
    for i in range(n_out):
        sym, nb = table[peek(table_log)]
        if sym < 0:
            raise ValueError("zstd: invalid Huffman code")
        out[i] = sym
        read(nb)
        if br.over:
            raise ValueError("zstd: Huffman stream overread")
    if not br.exhausted_exactly():
        raise ValueError("zstd: Huffman stream not fully consumed")
    return out


# ------------------------------------------------- predefined tables
# RFC 8878 §3.1.1.3.2.2.1 — transcribed; pinned by the libzstd
# differential (wrong cells cannot survive it).
_LL_DEFAULTS = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULTS = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULTS = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1],
    5,
)

# literals-length code -> (baseline, extra_bits) — RFC 8878 §3.1.1.3.2.1.1
_LL_CODE = [(i, 0) for i in range(16)] + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
    (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10),
    (2048, 11), (4096, 12), (8192, 13), (16384, 14), (32768, 15),
    (65536, 16),
]
# match-length code -> (baseline, extra_bits)
_ML_CODE = [(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
    (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
    (32771, 15), (65539, 16),
]

_MAX_ACC = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}
_DEFAULTS = {"ll": _LL_DEFAULTS, "of": _OF_DEFAULTS, "ml": _ML_DEFAULTS}


# ------------------------------------------------- literals section
def _decode_literals(block: bytes, frame_state: dict):
    """Literals section: returns ``(literals, bytes_consumed)``."""
    if not block:
        raise ValueError("zstd: empty literals section")
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sf & 1 == 0:
            rsize, hdr = b0 >> 3, 1
        elif sf == 1:
            if len(block) < 2:
                raise ValueError("zstd: truncated literals header")
            rsize, hdr = (b0 >> 4) | (block[1] << 4), 2
        else:  # sf == 3
            if len(block) < 3:
                raise ValueError("zstd: truncated literals header")
            rsize = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hdr = 3
        if rsize > 1 << 20:
            raise ValueError("zstd: literals larger than a block allows")
        if ltype == 0:
            if len(block) < hdr + rsize:
                raise ValueError("zstd: truncated raw literals")
            return bytearray(block[hdr : hdr + rsize]), hdr + rsize
        if len(block) < hdr + 1:
            raise ValueError("zstd: truncated RLE literals")
        return bytearray(block[hdr : hdr + 1] * rsize), hdr + 1
    # compressed / treeless
    if sf == 0:
        n_streams, hdr = 1, 3
        if len(block) < 3:
            raise ValueError("zstd: truncated literals header")
        rsize = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        csize = (block[1] >> 6) | (block[2] << 2)
    elif sf == 1:
        n_streams, hdr = 4, 3
        if len(block) < 3:
            raise ValueError("zstd: truncated literals header")
        rsize = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        csize = (block[1] >> 6) | (block[2] << 2)
    elif sf == 2:
        n_streams, hdr = 4, 4
        if len(block) < 4:
            raise ValueError("zstd: truncated literals header")
        rsize = (b0 >> 4) | (block[1] << 4) | ((block[2] & 3) << 12)
        csize = (block[2] >> 2) | (block[3] << 6)
    else:
        n_streams, hdr = 4, 5
        if len(block) < 5:
            raise ValueError("zstd: truncated literals header")
        rsize = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        csize = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
    body = block[hdr : hdr + csize]
    if len(body) < csize:
        raise ValueError("zstd: truncated compressed literals")
    if ltype == 2:
        table, table_log, used = build_huffman_table(body)
        frame_state["huff"] = (table, table_log)
        body = body[used:]
    else:
        if "huff" not in frame_state:
            raise ValueError("zstd: treeless literals with no previous table")
        table, table_log = frame_state["huff"]
    if n_streams == 1:
        return _huffman_decode_stream(table, table_log, body, rsize), hdr + csize
    if len(body) < 6:
        raise ValueError("zstd: truncated 4-stream jump table")
    s1, s2, s3 = struct.unpack_from("<HHH", body)
    rest = body[6:]
    if s1 + s2 + s3 > len(rest):
        raise ValueError("zstd: jump table overruns literals")
    per = (rsize + 3) // 4
    last = rsize - 3 * per
    if last < 0:
        raise ValueError("zstd: 4-stream regenerated size too small")
    chunks = (rest[:s1], rest[s1 : s1 + s2], rest[s1 + s2 : s1 + s2 + s3],
              rest[s1 + s2 + s3 :])
    out = bytearray()
    for i, chunk in enumerate(chunks):
        out += _huffman_decode_stream(
            table, table_log, chunk, per if i < 3 else last
        )
    return out, hdr + csize


# ------------------------------------------------- sequences section
def _read_seq_table(kind: str, mode: int, src: bytes, frame_state: dict):
    """One sequence table per its 2-bit mode; returns
    ``(table, acc, bytes_consumed)``."""
    if mode == 0:  # predefined
        counts, acc = _DEFAULTS[kind]
        key = ("fse", kind)
        frame_state[key] = (build_fse_table(counts, acc), acc)
        return (*frame_state[key], 0)
    if mode == 1:  # RLE: one byte
        if not src:
            raise ValueError("zstd: truncated RLE sequence table")
        sym = src[0]
        if sym > _MAX_SYM[kind]:
            raise ValueError(f"zstd: RLE {kind} symbol out of range")
        frame_state[("fse", kind)] = (_rle_table(sym), 0)
        return _rle_table(sym), 0, 1
    if mode == 2:  # FSE-described
        counts, acc, used = read_fse_counts(src, _MAX_SYM[kind], _MAX_ACC[kind])
        table = build_fse_table(counts, acc)
        frame_state[("fse", kind)] = (table, acc)
        return table, acc, used
    prev = frame_state.get(("fse", kind))  # repeat
    if prev is None:
        raise ValueError(f"zstd: repeat {kind} table with no previous")
    return (*prev, 0)


def _decode_sequences(body: bytes, frame_state: dict):
    """Sequences section: returns a list of (lit_len, match_len,
    offset_value) triples — offsets still in repeat-code space."""
    if not body:
        raise ValueError("zstd: empty sequences section")
    b0 = body[0]
    if b0 == 0:
        return [], 1
    if b0 < 128:
        n_seq, pos = b0, 1
    elif b0 < 255:
        if len(body) < 2:
            raise ValueError("zstd: truncated sequence count")
        n_seq, pos = ((b0 - 128) << 8) | body[1], 2
    else:
        if len(body) < 3:
            raise ValueError("zstd: truncated sequence count")
        n_seq, pos = body[1] | (body[2] << 8) | 0x7F00, 3
    if len(body) < pos + 1:
        raise ValueError("zstd: missing compression-modes byte")
    modes = body[pos]
    pos += 1
    if modes & 3:
        raise ValueError("zstd: reserved sequence mode bits set")
    ll_t, ll_acc, used = _read_seq_table("ll", (modes >> 6) & 3, body[pos:], frame_state)
    pos += used
    of_t, of_acc, used = _read_seq_table("of", (modes >> 4) & 3, body[pos:], frame_state)
    pos += used
    ml_t, ml_acc, used = _read_seq_table("ml", (modes >> 2) & 3, body[pos:], frame_state)
    pos += used
    br = _BackBits(body[pos:])
    ll_s = _FseState(ll_t, ll_acc, br)
    of_s = _FseState(of_t, of_acc, br)
    ml_s = _FseState(ml_t, ml_acc, br)
    seqs = []
    for i in range(n_seq):
        of_code = of_s.symbol()
        if of_code > 31:
            raise ValueError("zstd: offset code out of range")
        offset_value = (1 << of_code) + br.read(of_code)
        ml_code = ml_s.symbol()
        ml_base, ml_bits = _ML_CODE[ml_code]
        match_len = ml_base + br.read(ml_bits)
        ll_code = ll_s.symbol()
        ll_base, ll_bits = _LL_CODE[ll_code]
        lit_len = ll_base + br.read(ll_bits)
        seqs.append((lit_len, match_len, offset_value))
        if i != n_seq - 1:
            ll_s.update(br)
            ml_s.update(br)
            of_s.update(br)
        if br.over:
            raise ValueError("zstd: sequence bitstream overread")
    if not br.exhausted_exactly():
        raise ValueError("zstd: sequence bitstream not fully consumed")
    return seqs, len(body)


def _execute_sequences(out: bytearray, literals: bytearray, seqs, rep: list[int]) -> None:
    lit_pos = 0
    for lit_len, match_len, offset_value in seqs:
        if lit_len:
            out += literals[lit_pos : lit_pos + lit_len]
            lit_pos += lit_len
        if offset_value > 3:
            offset = offset_value - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = offset_value
            if lit_len == 0:
                idx += 1
            if idx == 1:
                offset = rep[0]
            elif idx == 2:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 3:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:  # idx == 4: repeat1 - 1
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("zstd: repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if offset > len(out):
            raise ValueError("zstd: match offset beyond history")
        if offset >= match_len:
            start = len(out) - offset
            out += out[start : start + match_len]
        else:
            start = len(out) - offset
            for _ in range(match_len):
                out.append(out[start])
                start += 1
    if lit_pos < len(literals):
        out += literals[lit_pos:]
    elif lit_pos > len(literals):
        raise ValueError("zstd: sequences consume more literals than exist")


# ------------------------------------------------- dictionaries
_DICT_MAGIC = 0xEC30A437


def parse_dictionary(blob: bytes) -> dict:
    """A zstd dictionary (RFC 8878 §5): a FORMAT dictionary (magic
    ``0xEC30A437``, dictionary id, entropy tables — Huffman literals,
    then FSE offsets / match-lengths / literals-lengths — three 4-byte
    repeat offsets, then content) or a RAW dictionary (bare content,
    id 0).  Returns the state ``_decode_frame`` preloads: the window
    prefix, the entropy tables as the frames' initial 'repeat'/treeless
    targets, and the starting repeat offsets."""
    if len(blob) >= 8 and int.from_bytes(blob[:4], "little") == _DICT_MAGIC:
        did = int.from_bytes(blob[4:8], "little")
        pos = 8
        huff_table, huff_log, used = build_huffman_table(blob[pos:])
        pos += used
        state: dict = {"huff": (huff_table, huff_log)}
        for kind in ("of", "ml", "ll"):
            counts, acc, used = read_fse_counts(
                blob[pos:], _MAX_SYM[kind], _MAX_ACC[kind]
            )
            state[("fse", kind)] = (build_fse_table(counts, acc), acc)
            pos += used
        if pos + 12 > len(blob):
            raise ValueError("zstd: dictionary truncated before rep offsets")
        rep = [
            int.from_bytes(blob[pos + 4 * i : pos + 4 * i + 4], "little")
            for i in range(3)
        ]
        pos += 12
        if any(r == 0 for r in rep):
            raise ValueError("zstd: dictionary rep offset of zero")
        return {"id": did, "content": blob[pos:], "state": state, "rep": rep}
    return {"id": 0, "content": blob, "state": {}, "rep": [1, 4, 8]}


# ------------------------------------------------- frames
def _decode_frame(blob: bytes, pos: int, dictionary: dict | None = None):
    """One zstd frame starting at ``pos`` (past the magic).  Returns
    ``(decoded_bytes, next_pos)``."""
    if pos >= len(blob):
        raise ValueError("zstd: truncated frame header")
    fhd = blob[pos]
    pos += 1
    single = (fhd >> 5) & 1
    checksum = (fhd >> 2) & 1
    dict_flag = fhd & 3
    fcs_flag = fhd >> 6
    if (fhd >> 3) & 1:
        raise ValueError("zstd: reserved frame-header bit set")
    window = None
    if not single:
        if pos >= len(blob):
            raise ValueError("zstd: truncated window descriptor")
        wd = blob[pos]
        pos += 1
        window = (1 << (10 + (wd >> 3))) + ((1 << (10 + (wd >> 3))) >> 3) * (wd & 7)
    if dict_flag:
        size = (0, 1, 2, 4)[dict_flag]
        did = int.from_bytes(blob[pos : pos + size], "little")
        pos += size
        if did and dictionary is None:
            # dictionary-keyed frames without the dictionary stay a
            # loud class, never a guess
            raise ValueError(f"zstd: frame requires dictionary id {did}")
        if did and dictionary["id"] not in (0, did):
            raise ValueError(
                f"zstd: frame wants dictionary {did}, got {dictionary['id']}"
            )
    fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
    content_size = None
    if fcs_size:
        if pos + fcs_size > len(blob):
            raise ValueError("zstd: truncated frame content size")
        content_size = int.from_bytes(blob[pos : pos + fcs_size], "little")
        if fcs_size == 2:
            content_size += 256
        pos += fcs_size
    if single:
        window = content_size if content_size is not None else 0
    if window is not None and window > _MAX_WINDOW:
        raise ValueError("zstd: window size beyond the 128 MiB guard")
    if dictionary is not None:
        out = bytearray(dictionary["content"])
        frame_state = dict(dictionary["state"])
        rep = list(dictionary["rep"])
    else:
        out = bytearray()
        frame_state = {}
        rep = [1, 4, 8]
    base = len(out)
    while True:
        if pos + 3 > len(blob):
            raise ValueError("zstd: truncated block header")
        bh = blob[pos] | (blob[pos + 1] << 8) | (blob[pos + 2] << 16)
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if len(out) - base > MAX_OUTPUT:
            raise ValueError("zstd: output beyond the 1 GiB bomb ceiling")
        if btype == 0:  # raw
            if pos + bsize > len(blob):
                raise ValueError("zstd: truncated raw block")
            out += blob[pos : pos + bsize]
            pos += bsize
        elif btype == 1:  # RLE
            if pos >= len(blob):
                raise ValueError("zstd: truncated RLE block")
            out += blob[pos : pos + 1] * bsize
            pos += 1
        elif btype == 2:
            if pos + bsize > len(blob):
                raise ValueError("zstd: truncated compressed block")
            block = blob[pos : pos + bsize]
            pos += bsize
            literals, used = _decode_literals(block, frame_state)
            seqs, _ = _decode_sequences(block[used:], frame_state)
            _execute_sequences(out, literals, seqs, rep)
        else:
            raise ValueError("zstd: reserved block type")
        if last:
            break
    if checksum:
        if pos + 4 > len(blob):
            raise ValueError("zstd: truncated content checksum")
        want = int.from_bytes(blob[pos : pos + 4], "little")
        pos += 4
        got = xxh64(bytes(out[base:])) & 0xFFFFFFFF
        if got != want:
            raise ValueError(
                f"zstd: content checksum mismatch ({got:#x} != {want:#x})"
            )
    if content_size is not None and len(out) - base != content_size:
        raise ValueError(
            f"zstd: frame content size lied ({len(out) - base} != {content_size})"
        )
    return bytes(out[base:]), pos


def decompress(blob: bytes, dict_data: bytes | None = None) -> bytes:
    """All frames in ``blob`` concatenated — skippable frames skipped.
    ``dict_data`` (raw or format dictionary bytes) unlocks
    dictionary-keyed frames — the Common Crawl ``.warc.zst`` shape.
    Total output is capped at 1 GiB: a kilobyte-sized hostile frame of
    RLE blocks can otherwise demand unbounded memory (the
    decompression-bomb class), and corpus shards are never that big."""
    dictionary = parse_dictionary(dict_data) if dict_data is not None else None
    pos = 0
    parts = []
    total = 0
    while pos < len(blob):
        if pos + 4 > len(blob):
            raise ValueError("zstd: truncated frame magic")
        magic = int.from_bytes(blob[pos : pos + 4], "little")
        pos += 4
        if (magic & 0xFFFFFFF0) == _SKIP_MAGIC_LO:
            if pos + 4 > len(blob):
                raise ValueError("zstd: truncated skippable frame")
            size = int.from_bytes(blob[pos : pos + 4], "little")
            pos += 4 + size
            if pos > len(blob):
                raise ValueError("zstd: skippable frame overruns input")
            continue
        if magic != _MAGIC:
            raise ValueError(f"zstd: bad frame magic {magic:#x}")
        part, pos = _decode_frame(blob, pos, dictionary)
        total += len(part)
        if total > MAX_OUTPUT:
            raise ValueError("zstd: output beyond the 1 GiB bomb ceiling")
        parts.append(part)
    return b"".join(parts)


def iter_frames(blob: bytes, dict_data: bytes | None = None):
    """Yield ``(decoded_bytes, is_skippable, raw_payload)`` per frame —
    the per-record walk of a ``.warc.zst`` (one WARC record per frame,
    dictionary in a leading ``0x184D2A5D`` skippable frame)."""
    dictionary = parse_dictionary(dict_data) if dict_data is not None else None
    pos = 0
    while pos < len(blob):
        if pos + 4 > len(blob):
            raise ValueError("zstd: truncated frame magic")
        magic = int.from_bytes(blob[pos : pos + 4], "little")
        pos += 4
        if (magic & 0xFFFFFFF0) == _SKIP_MAGIC_LO:
            if pos + 4 > len(blob):
                raise ValueError("zstd: truncated skippable frame")
            size = int.from_bytes(blob[pos : pos + 4], "little")
            payload = blob[pos + 4 : pos + 4 + size]
            if len(payload) != size:
                raise ValueError("zstd: skippable frame overruns input")
            pos += 4 + size
            yield None, magic, payload
            continue
        if magic != _MAGIC:
            raise ValueError(f"zstd: bad frame magic {magic:#x}")
        part, pos = _decode_frame(blob, pos, dictionary)
        yield part, None, None


# ------------------------------------------------- own writer (raw blocks)
def compress_raw_frame(data: bytes, checksum: bool = True) -> bytes:
    """A spec-legal zstd frame holding ``data`` in raw (uncompressed)
    blocks — the stored-deflate analogue.  libzstd decodes it (the
    differential tests prove that), which makes shards this engine
    stages readable by every zstd consumer."""
    out = bytearray()
    out += struct.pack("<I", _MAGIC)
    fcs = len(data)
    # single-segment + checksum flag + 8-byte FCS keeps the header
    # branchless for readers (fcs_flag=3)
    out.append((3 << 6) | (1 << 5) | ((1 << 2) if checksum else 0))
    out += struct.pack("<Q", fcs)
    max_block = 1 << 17  # 128 KiB, the format's hard block cap
    if not data:
        out += (1).to_bytes(3, "little")  # last=1, raw, size 0
    else:
        for off in range(0, len(data), max_block):
            chunk = data[off : off + max_block]
            last = 1 if off + max_block >= len(data) else 0
            out += (last | (len(chunk) << 3)).to_bytes(3, "little")
            out += chunk
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


# ------------------------------------------------- seekable format
def write_seekable(chunks: list[bytes], compress=None) -> bytes:
    """Seekable-format container (public zstd contrib spec): one
    independent frame per chunk plus the seek-table skippable frame.
    ``compress`` maps ``bytes -> zstd frame`` (default: the raw-block
    writer); at staging time queries pass libzstd's compressor."""
    compress = compress or compress_raw_frame
    out = bytearray()
    entries = []
    for chunk in chunks:
        frame = compress(chunk)
        entries.append((len(frame), len(chunk)))
        out += frame
    table = bytearray()
    for csize, dsize in entries:
        table += struct.pack("<II", csize, dsize)
    table += struct.pack("<IBI", len(entries), 0, _SEEK_FOOT_MAGIC)
    out += struct.pack("<II", _SEEK_SKIP_MAGIC, len(table))
    out += table
    return bytes(out)


def read_seek_table(tail: bytes, file_size: int):
    """Seek-table records from the file TAIL alone (the xz-index
    discipline): returns ``[{frame_index, offset, compressed_len,
    decompressed_len}]`` without touching a single data frame."""
    if len(tail) < 17:
        raise ValueError("zstd-seekable: tail too short for a footer")
    n_frames, desc, magic = struct.unpack_from("<IBI", tail, len(tail) - 9)
    if magic != _SEEK_FOOT_MAGIC:
        raise ValueError("zstd-seekable: bad seek-table footer magic")
    if desc & 0x7C:
        raise ValueError("zstd-seekable: reserved descriptor bits set")
    entry = 12 if desc & 0x80 else 8
    table_len = n_frames * entry + 9
    skip_hdr = len(tail) - table_len - 8
    if skip_hdr < 0:
        raise ValueError("zstd-seekable: tail shorter than the seek table")
    magic2, size = struct.unpack_from("<II", tail, skip_hdr)
    if magic2 != _SEEK_SKIP_MAGIC:
        raise ValueError("zstd-seekable: seek table is not the 0x..5E skippable")
    if size != table_len:
        raise ValueError("zstd-seekable: skippable size disagrees with footer")
    records = []
    offset = file_size - (table_len + 8)
    pos = skip_hdr + 8
    total = 0
    for i in range(n_frames):
        csize, dsize = struct.unpack_from("<II", tail, pos)
        pos += entry
        total += csize
        records.append(
            {
                "frame_index": i,
                "compressed_len": csize,
                "decompressed_len": dsize,
            }
        )
    start = offset - total
    if start < 0:
        raise ValueError("zstd-seekable: frame sizes exceed the file")
    for rec in records:
        rec["offset"] = start
        start += rec["compressed_len"]
    return records

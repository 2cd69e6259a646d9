"""PDF text extraction (ISO 32000 subset) — pure stdlib, own parser.

Written from the public PDF specification (ISO 32000-1 / the Adobe PDF
Reference): cross-reference table + trailer, the object grammar (dicts,
arrays, names, numbers, literal + hex strings with the full escape set,
indirect references), FlateDecode content streams, and the text-showing
operators (Tj, ', ", TJ) inside BT/ET blocks.

Why this exists: PDF is the highest-volume document format a real LLM
data pipeline ingests (papers, reports, books) — extraction-to-text is a
first-mile operator in every published corpus recipe.  Full PDF needs a
rendering library for layout/fonts; TEXT RECOVERY from well-formed,
text-based PDFs is structural work this module does for real:

- ``write_pdf``: a spec-valid writer (catalog → page tree → pages →
  content streams, optional FlateDecode, correct xref byte offsets) so
  staged corpora are genuine PDFs any viewer opens.
- ``extract_pdf_text``: trailer discovery (``startxref`` from the tail),
  xref walk, object parse at the recorded offsets, page-tree traversal
  (nested ``Kids`` supported), per-page content-stream decode (with
  ``/Length`` honored, including indirect-reference lengths) and a
  content tokenizer that collects text operands in showing order.
- PDF 1.5+ cross-reference support (ISO 32000-1 §7.5.7/§7.5.8) — the
  shape virtually every PDF written since ~2005 uses: /Type/XRef
  cross-reference STREAMS (binary rows per /W, /Index subsections,
  FlateDecode + the TIFF and all five PNG predictors), /Type/ObjStm
  object streams reached through type-2 entries, /Prev incremental-
  update chains with newest-entry-wins precedence (free entries
  honored, cyclic chains refused), and hybrid-reference /XRefStm
  bridges.  ``write_pdf_xrefstream`` stages all of it, including real
  incremental updates whose base revision carries superseded bytes.

PDF strings are BYTE strings per the spec — simple-font text rides as
UTF-8 bytes and recovery is byte-exact (the oracle demands it).
CID-keyed (Type0) fonts — the dominant post-2010 real-world shape — are
supported through their embedded /ToUnicode CMap (ISO 32000 §9.10.3):
``write_pdf_cid`` stages genuine Identity-H/CIDFontType2 documents whose
shown strings are CID codes, ``parse_tounicode_cmap`` handles bfchar and
both bfrange destination forms, and extraction decodes code-by-code with
codespace-aware widths.  Standard-handler encryption decrypts
transparently via operators/pdf_crypt.py across the whole spectrum real
corpora carry: RC4 revisions 2/3, AESV2 revision 4 (/V 4 crypt
filters), and AESV3 revisions 5/6 (/V 5 AES-256) — with the /U check
(hash check for V5) making wrong passwords loud.  What stays outside:
scanned/image-only PDFs (they need OCR — a model, not a parser) and
Type0 fonts WITHOUT a ToUnicode CMap (recovery would need the embedded
font program's cmap table); both are loud, documented seams.  Damage
(bad xref offset, truncated stream, length mismatch, unmapped CID, bad
CBC padding) raises — one document costs one record, never the job.
"""

from __future__ import annotations

import re
import struct
import zlib

from .compression import decompress

# --------------------------------------------------------------- writer


def _esc(line: str) -> bytes:
    """Literal-string escape: backslash the delimiters, octal-escape
    control bytes; everything else rides as raw UTF-8 bytes (PDF strings
    are byte strings)."""
    out = bytearray()
    for b in line.encode("utf-8"):
        if b in (0x28, 0x29, 0x5C):  # ( ) \\
            out += b"\\" + bytes([b])
        elif b < 0x20:
            out += b"\\%03o" % b
        else:
            out.append(b)
    return bytes(out)


def write_pdf(pages: list, compress=False) -> bytes:
    """Serialize ``pages`` (each a list of text lines) into a complete
    one-font PDF with a correct xref table.  ``compress`` selects the
    content-stream coding: False raw, True ``/FlateDecode``, or one of
    the legacy filter names ``"lzw"``, ``"rl"``, ``"ahx"``, ``"a85"``,
    or the chain ``"a85+lzw"`` (ASCII85 OVER LZW — the wire order old
    PostScript exports used, written as the /Filter array
    [/ASCII85Decode /LZWDecode]).  ``"a85+lzw0"`` is the same chain
    with /EarlyChange 0 LZW and the PARALLEL /DecodeParms array
    [null << /EarlyChange 0 >>] — the ISO 32000-1 7.3.8.2 shape where
    each filter's parms live at ITS index (a reader that grabs
    parms[0] decodes garbage; r13 ADVICE)."""
    objs: list[bytes] = []  # body of object i+1

    def content(lines: list) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        return b"\n".join(ops)

    n_pages = len(pages)
    # object layout: 1 catalog, 2 pages, 3 font, then per page i:
    # (4+2i) page object, (5+2i) its content stream
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    for i, lines in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (5 + 2 * i)
        )
        data = content(lines)
        if compress is True or compress == "flate":
            data = zlib.compress(data, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        elif compress in ("lzw", "rl", "ahx", "a85", "a85+lzw",
                          "a85+lzw0"):
            from . import pdf_filters as PF

            if compress == "a85+lzw0":
                data = PF.ascii85_encode(PF.lzw_encode(data, early=0))
                filt = (b"[/ASCII85Decode /LZWDecode] /DecodeParms "
                        b"[null << /EarlyChange 0 >>]")
            elif compress == "a85+lzw":
                data = PF.ascii85_encode(PF.lzw_encode(data))
                filt = b"[/ASCII85Decode /LZWDecode]"
            else:
                enc, filt = {
                    "lzw": (PF.lzw_encode, b"/LZWDecode"),
                    "rl": (PF.rle_encode, b"/RunLengthDecode"),
                    "ahx": (PF.ascii_hex_encode, b"/ASCIIHexDecode"),
                    "a85": (PF.ascii85_encode, b"/ASCII85Decode"),
                }[compress]
                data = enc(data)
            head = b"<< /Length %d /Filter %s >>" % (len(data), filt)
        elif compress:
            raise ValueError(f"pdf: unknown coding {compress!r}")
        else:
            head = b"<< /Length %d >>" % len(data)
        objs.append(head + b"\nstream\n" + data + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def _png_up_encode(rows: bytes, rowlen: int) -> bytes:
    """PNG Up-filter (type 2) encode fixed-width rows — the predictor
    every mainstream PDF writer applies to xref-stream data."""
    out = bytearray()
    prev = bytes(rowlen)
    for r in range(0, len(rows), rowlen):
        row = rows[r : r + rowlen]
        out.append(2)
        out += bytes((row[i] - prev[i]) & 0xFF for i in range(rowlen))
        prev = row
    return bytes(out)


_XREF_W = (1, 4, 2)  # row layout: 1-byte type, 4-byte field2, 2-byte field3


def _xref_stream_obj(rows: list, size: int, root: int,
                     prev: int | None = None, predictor: bool = False,
                     index: list | None = None) -> bytes:
    """Serialize one /Type /XRef stream object.  ``rows`` is a list of
    (objnum, type, f2, f3) — this function packs them per _XREF_W in
    objnum order and emits /Index when the covered numbers are not the
    contiguous 0..size-1 run (or when given explicitly)."""
    rows = sorted(rows)
    nums = [r[0] for r in rows]
    data = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for _, t, f2, f3 in rows
    )
    if index is None and nums != list(range(size)):
        # collapse to (start, count) runs
        index = []
        for n in nums:
            if index and n == index[-2] + index[-1]:
                index[-1] += 1
            else:
                index += [n, 1]
    rowlen = sum(_XREF_W)
    parms = b""
    if predictor:
        data = _png_up_encode(data, rowlen)
        parms = (b" /DecodeParms << /Predictor 12 /Columns %d >>" % rowlen)
    payload = zlib.compress(data, 9)
    head = (
        b"<< /Type /XRef /Size %d /Root %d 0 R /W [%d %d %d]"
        % (size, root, *_XREF_W)
    )
    if index is not None:
        head += b" /Index [" + b" ".join(b"%d" % v for v in index) + b"]"
    if prev is not None:
        head += b" /Prev %d" % prev
    head += parms + b" /Filter /FlateDecode /Length %d >>" % len(payload)
    return head + b"\nstream\n" + payload + b"\nendstream"


def write_pdf_xrefstream(
    pages: list,
    compress: bool = False,
    objstm: bool = True,
    predictor: bool = False,
    incremental: bool = False,
    hybrid: bool = False,
) -> bytes:
    """Serialize ``pages`` as a PDF 1.5+ document whose cross-reference
    rides as a /Type /XRef STREAM (ISO 32000-1 §7.5.8) instead of a
    classic table — the shape virtually every PDF written since ~2005
    uses.  ``objstm`` packs the non-stream objects (catalog, page tree,
    font, page dicts) into a /Type /ObjStm container reached through
    type-2 xref entries (§7.5.7).  ``predictor`` PNG-Up-predicts the
    xref rows (/DecodeParms /Predictor 12), the layout mainstream
    writers emit.  ``incremental`` appends a real incremental update: the
    ORIGINAL body carries placeholder content streams, and the appended
    revision redefines every page's content object with the true text
    plus a second xref stream whose /Prev links back — so text can only
    be recovered by walking the /Prev chain with newest-entry-wins
    precedence.  ``hybrid`` writes a HYBRID-REFERENCE file (§7.5.8.4,
    the Acrobat-updated shape): a classic table covering only the
    page/content objects whose trailer's /XRefStm points at an xref
    STREAM carrying the catalog, page tree, and font — readable only
    by walking the bridge."""
    if hybrid and (objstm or incremental):
        raise ValueError(
            "pdf: the fixture writer's hybrid layout stands alone "
            "(objstm=False, incremental=False)"
        )
    n_pages = len(pages)
    page_num = [4 + 2 * i for i in range(n_pages)]
    cont_num = [5 + 2 * i for i in range(n_pages)]

    def content(lines: list) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        return b"\n".join(ops)

    def content_obj(lines: list) -> bytes:
        data = content(lines)
        if compress:
            data = zlib.compress(data, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            head = b"<< /Length %d >>" % len(data)
        return head + b"\nstream\n" + data + b"\nendstream"

    kids = b" ".join(b"%d 0 R" % p for p in page_num)
    dict_objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
        3: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    for i in range(n_pages):
        dict_objs[page_num[i]] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % cont_num[i]
        )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    rows: list[tuple] = [(0, 0, 0, 65535)]  # object 0: head of free list

    def emit(num: int, body: bytes) -> None:
        rows.append((num, 1, len(out), 0))
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    # the first revision's page text: placeholders when an incremental
    # update will supply the real content, so stale-entry reads are loud
    body_pages = (
        [[f"SUPERSEDED REVISION {i}"] for i in range(n_pages)]
        if incremental else pages
    )
    if objstm:
        objstm_num = 4 + 2 * n_pages
        xref_num = objstm_num + 1
        packed = sorted(dict_objs)
        header = bytearray()
        data = bytearray()
        offs = []
        for num in packed:
            offs.append(len(data))
            data += dict_objs[num] + b"\n"
        for num, off in zip(packed, offs):
            header += b"%d %d " % (num, off)
        payload = bytes(header) + bytes(data)
        stm_head = b"<< /Type /ObjStm /N %d /First %d" % (
            len(packed), len(header),
        )
        if compress:
            payload = zlib.compress(payload, 9)
            stm_head += b" /Filter /FlateDecode"
        stm_head += b" /Length %d >>" % len(payload)
        for idx, num in enumerate(packed):
            rows.append((num, 2, objstm_num, idx))
        emit(objstm_num, stm_head + b"\nstream\n" + payload + b"\nendstream")
    else:
        xref_num = 4 + 2 * n_pages
        for num in sorted(dict_objs):
            emit(num, dict_objs[num])
    for i in range(n_pages):
        emit(cont_num[i], content_obj(body_pages[i]))

    if hybrid:
        xref_num = 4 + 2 * n_pages
        stm_at = len(out)
        srows = [r for r in rows if r[0] <= 3]
        srows.append((xref_num, 1, stm_at, 0))
        out += b"%d 0 obj\n" % xref_num + _xref_stream_obj(
            srows, xref_num + 1, 1, predictor=predictor
        ) + b"\nendobj\n"
        tbl_at = len(out)
        prows = sorted(r for r in rows if r[0] >= 4)
        out += b"xref\n%d %d\n" % (4, 2 * n_pages)
        for _num, _t, off, _g in prows:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R /XRefStm %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (xref_num + 1, stm_at, tbl_at)
        )
        return bytes(out)

    size = xref_num + 1
    xref_at = len(out)
    rows.append((xref_num, 1, xref_at, 0))
    out += b"%d 0 obj\n" % xref_num + _xref_stream_obj(
        rows, size, 1, predictor=predictor
    ) + b"\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    if not incremental:
        return bytes(out)

    # ---- appended incremental update (a second, newer revision) ----
    upd_xref_num = size
    upd_rows: list[tuple] = []
    for i in range(n_pages):
        upd_rows.append((cont_num[i], 1, len(out), 0))
        out += b"%d 0 obj\n" % cont_num[i] + content_obj(pages[i]) + b"\nendobj\n"
    upd_at = len(out)
    upd_rows.append((upd_xref_num, 1, upd_at, 0))
    out += b"%d 0 obj\n" % upd_xref_num + _xref_stream_obj(
        upd_rows, upd_xref_num + 1, 1, prev=xref_at, predictor=predictor,
    ) + b"\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % upd_at
    return bytes(out)


def write_pdf_images(images: list, captions: list | None = None,
                     compress_content: bool = False) -> bytes:
    """Serialize a one-page PDF whose /Resources carry one image
    XObject per entry of ``images`` — each ``(kind, width, height,
    payload)`` with kind ``"flate"`` (payload = raw 8-bit DeviceGray
    samples, FlateDecoded into the stream) or ``"dct"`` (payload = a
    complete JFIF file, embedded as-is under /DCTDecode, which is how
    every real producer ships JPEG figures).  The content stream
    paints each image so the page is a genuine figure page; with
    ``captions`` (one string per image), a caption line is drawn
    under each figure — the papers-corpus layout figure-caption
    pairing mines."""
    if captions is not None and len(captions) != len(images):
        raise ValueError("pdf: one caption per image required")
    objs: list[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    n = len(images)
    first_im = 6 if captions is not None else 5
    im_refs = b" ".join(
        b"/Im%d %d 0 R" % (i, first_im + i) for i in range(n)
    )
    res = b"/XObject << " + im_refs + b" >>"
    if captions is not None:
        res += b" /Font << /F1 5 0 R >>"
    objs.append(
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << " + res + b" >> "
        b"/Contents 4 0 R >>"
    )
    ops = []
    for i in range(n):
        ops.append(b"q 96 0 0 96 %d 600 cm /Im%d Do Q" % (60 + 120 * i, i))
        if captions is not None:
            ops.append(
                b"BT /F1 10 Tf %d 585 Td (" % (60 + 120 * i)
                + _esc(captions[i]) + b") Tj ET"
            )
    data = b"\n".join(ops)
    if compress_content:
        data = zlib.compress(data, 9)
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
            + data + b"\nendstream"
        )
    else:
        objs.append(
            b"<< /Length %d >>\nstream\n" % len(data) + data + b"\nendstream"
        )
    if captions is not None:
        objs.append(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )
    for kind, w, h, payload in images:
        bpc, parms = 8, b""
        if kind == "flate":
            if len(payload) != w * h:
                raise ValueError("pdf: flate image payload size mismatch")
            body = zlib.compress(payload, 9)
            filt = b"/FlateDecode"
        elif kind == "dct":
            body = payload
            filt = b"/DCTDecode"
        elif kind in ("ccitt", "ccitt-g3", "ccitt-g3-2d"):
            # payload = (bits with 1 = black, BlackIs1 flag); the coded
            # stream codes black/white runs directly — /BlackIs1 only
            # declares the DECODED output polarity.  "ccitt" = G4
            # (K -1), "ccitt-g3" = 1D MH (K 0), "ccitt-g3-2d" = mixed
            # MR (K 2, every 2nd row 1D — the fax-mode T.4 §4.2 shape).
            from .ccitt import encode_g3_1d, encode_g3_2d, encode_g4

            bits, black_is_1 = payload
            if len(bits) != w * h:
                raise ValueError("pdf: ccitt raster size mismatch")
            if kind == "ccitt":
                body, k_val = encode_g4(list(bits), w, h), -1
            elif kind == "ccitt-g3-2d":
                body, k_val = encode_g3_2d(list(bits), w, h, k=2), 2
            else:
                body, k_val = encode_g3_1d(list(bits), w, h), 0
            filt = b"/CCITTFaxDecode"
            bpc = 1
            parms = (
                b"/DecodeParms << /K %d /Columns %d /Rows %d "
                b"/BlackIs1 %s >> "
                % (k_val, w, h, b"true" if black_is_1 else b"false")
            )
        else:
            raise ValueError(f"pdf: unknown image kind {kind!r}")
        objs.append(
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent %d /Filter %s "
            b"%s/Length %d >>\nstream\n" % (w, h, bpc, filt, parms, len(body))
            + body + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def _esc_code_bytes(data: bytes) -> bytes:
    """Literal-string escape for raw CODE bytes (an /Encoding font's
    shown strings are codes, not UTF-8): delimiters backslashed,
    controls and high bytes octal-escaped."""
    out = bytearray()
    for b in data:
        if b in (0x28, 0x29, 0x5C):
            out += b"\\" + bytes([b])
        elif b < 0x20 or b >= 0x7F:
            out += b"\\%03o" % b
        else:
            out.append(b)
    return bytes(out)


def write_pdf_encoded(pages: list, mixed: bool = True,
                      compress: bool = False) -> bytes:
    """Serialize ``pages`` as a pre-CID real-world PDF: ONE simple font
    whose /Encoding dict carries /BaseEncoding /WinAnsiEncoding plus a
    /Differences array, with the shown strings holding the custom CODE
    bytes.  ``mixed=True`` is the font-subsetter shape — ASCII
    printables ride as their own WinAnsi bytes, everything else (the
    Cyrillic reality of this corpus) through /Differences codes from
    128 up.  ``mixed=False`` remaps EVERY character through
    /Differences codes from 33 up (using Standard glyph NAMES where
    one exists, uniXXXX otherwise), so byte-blind UTF-8 decoding
    yields pure garbage and recovery PROVES the encoding walk."""
    chars = sorted({c for pg in pages for ln in pg for c in ln})
    if mixed:
        direct = [c for c in chars if 32 <= ord(c) <= 126]
        diffed = [c for c in chars if not 32 <= ord(c) <= 126]
        start = 128
    else:
        direct, diffed, start = [], chars, 33
    if start + len(diffed) > 256:
        raise ValueError(
            "pdf: too many distinct characters for a one-font "
            "/Differences encoding — use write_pdf_cid"
        )
    code_of = {c: ord(c) for c in direct}
    for i, c in enumerate(diffed):
        code_of[c] = start + i
    rev_std = {v: k for k, v in _STD_GLYPH_NAMES.items()}

    def gname(c: str) -> bytes:
        if not mixed and c in rev_std:
            return b"/" + rev_std[c].encode("ascii")
        return b"/uni%04X" % ord(c)

    diffs = b""
    if diffed:
        diffs = b" /Differences [%d %s]" % (
            start, b" ".join(gname(c) for c in diffed),
        )
    font_obj = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding%s >> >>" % diffs
    )

    def content(lines: list) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append(b"0 -14 Td")
            coded = bytes(code_of[c] for c in line)
            ops.append(b"(" + _esc_code_bytes(coded) + b") Tj")
        ops.append(b"ET")
        return b"\n".join(ops)

    objs: list[bytes] = []
    n_pages = len(pages)
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objs.append(font_obj)
    for i, lines in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (5 + 2 * i)
        )
        data = content(lines)
        if compress:
            data = zlib.compress(data, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            head = b"<< /Length %d >>" % len(data)
        objs.append(head + b"\nstream\n" + data + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def write_pdf_encrypted(
    pages: list,
    user_pw: bytes = b"",
    owner_pw: bytes = b"own",
    rev: int = 3,
    compress: bool = False,
) -> bytes:
    """Serialize ``pages`` into a PDF encrypted with the standard
    security handler: RC4 revision 2 (40-bit) or 3 (128-bit)
    (ISO 32000-1 §7.6.3), AESV2 revision 4 (/V 4 crypt filters,
    AES-128-CBC), or AESV3 revisions 5/6 (/V 5, AES-256, SHA-2 key
    derivation per ISO 32000-2 §7.6.4).  The default empty user
    password is the real-world "owner-locked" shape — restrictions
    set, content readable by spec design.  Streams are compressed
    BEFORE encryption (spec order).  RC4 is length-preserving; the AES
    forms are not (IV + padding), so /Length is taken from the
    ciphertext.  Stream IVs are derived from (file ID, object number,
    plaintext hash) — unique per object, deterministic for fixture
    reproducibility."""
    import hashlib as _hl

    from .pdf_crypt import (
        aes_encrypt_payload, compute_o, compute_o_v5, compute_oe_v5,
        compute_perms, compute_u, compute_u_v5, compute_ue_v5, file_key,
        object_key, object_key_aes, rc4,
    )

    if rev not in (2, 3, 4, 5, 6):
        raise ValueError("pdf: standard handler revision must be 2..6")
    p = -44  # printing/copy restricted — the usual owner-locked bits
    file_id = bytes.fromhex(_hl.md5(repr(pages).encode()).hexdigest())
    seed = _hl.sha256(repr(pages).encode() + user_pw + owner_pw).digest()
    if rev >= 5:
        n = 32
        key = seed  # the V5 file key is random by spec; deterministic here
        # salts derive from the PASSWORDS alone (not the content): the
        # expensive Algorithm 2.B hash is a pure function of
        # (password, salt, udata), so password-scoped salts let the
        # per-process lru_cache amortize it across a whole staged
        # corpus — the per-document file key above still varies
        salts = __import__("hashlib").sha256(
            b"pdf-v5-salts:" + user_pw + b"\x00" + owner_pw
        ).digest()
        u_vsalt, u_ksalt = salts[:8], salts[8:16]
        o_vsalt, o_ksalt = salts[16:24], salts[24:32]
        u = compute_u_v5(user_pw, u_vsalt, u_ksalt, rev)
        ue = compute_ue_v5(user_pw, u_ksalt, key, rev)
        o = compute_o_v5(owner_pw, u, o_vsalt, o_ksalt, rev)
        oe = compute_oe_v5(owner_pw, u, o_ksalt, key, rev)
        perms = compute_perms(p, key, True)
    else:
        n = 5 if rev == 2 else 16
        o = compute_o(user_pw, owner_pw, rev, n)
        key = file_key(user_pw, o, p, file_id, rev, n)
        u = compute_u(key, file_id, rev)

    objs: list[bytes] = []

    def content(lines: list) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append(b"0 -14 Td")
            ops.append(b"(" + _esc(line) + b") Tj")
        ops.append(b"ET")
        return b"\n".join(ops)

    n_pages = len(pages)
    # layout: 1 catalog, 2 pages, 3 font, 4 Encrypt dict, then per page
    # i: (5+2i) page object, (6+2i) its content stream
    kids = b" ".join(b"%d 0 R" % (5 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    if rev >= 5:
        objs.append(
            b"<< /Filter /Standard /V 5 /R %d /Length 256 "
            b"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
            b"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
            b"/O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s> /P %d >>"
            % (
                rev, o.hex().upper().encode(), u.hex().upper().encode(),
                oe.hex().upper().encode(), ue.hex().upper().encode(),
                perms.hex().upper().encode(), p,
            )
        )
    elif rev == 4:
        objs.append(
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
            b"/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
            b"/O <%s> /U <%s> /P %d >>"
            % (o.hex().upper().encode(), u.hex().upper().encode(), p)
        )
    else:
        v = 1 if rev == 2 else 2
        objs.append(
            b"<< /Filter /Standard /V %d /R %d /Length %d /O <%s> /U <%s> "
            b"/P %d >>"
            % (
                v, rev, n * 8, o.hex().upper().encode(),
                u.hex().upper().encode(), p,
            )
        )
    for i, lines in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> "
            b"/Contents %d 0 R >>" % (6 + 2 * i)
        )
        data = content(lines)
        if compress:
            data = zlib.compress(data, 9)
        num = 6 + 2 * i
        if rev >= 4:
            iv = _hl.md5(
                file_id + struct.pack("<I", num) + _hl.md5(data).digest()
            ).digest()
            okey = key if rev >= 5 else object_key_aes(key, num)
            data = aes_encrypt_payload(okey, iv, data)
        else:
            data = rc4(object_key(key, num), data)
        head = b"<< /Length %d%s >>" % (
            len(data), b" /Filter /FlateDecode" if compress else b""
        )
        objs.append(head + b"\nstream\n" + data + b"\nendstream")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    hid = file_id.hex().upper().encode()
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt 4 0 R "
        b"/ID [<%s> <%s>] >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, hid, hid, xref_at)
    )
    return bytes(out)


def write_pdf_cid(pages: list, compress: bool = False) -> bytes:
    """Serialize ``pages`` (each a list of text lines) into a complete
    PDF whose ONE font is CID-keyed: a Type0 font, Identity-H encoding,
    CIDFontType2 descendant, and an embedded /ToUnicode CMap stream —
    the post-2010 real-world PDF shape (ISO 32000 §9.7/§9.10).  Text is
    shown as hex strings of 2-byte CIDs (assigned per unique character
    in first-appearance order, CID 0 reserved for notdef), so recovery
    REQUIRES mapping every code through the CMap: decoding the shown
    bytes as text yields garbage, exactly like a real CID document."""
    cid_of: dict = {}
    for lines in pages:
        for line in lines:
            for ch in line:
                if ch not in cid_of:
                    cid_of[ch] = len(cid_of) + 1
    if not cid_of:
        cid_of[" "] = 1  # keep the CMap non-empty for blank documents
    tounicode = write_tounicode_cmap(
        {cid.to_bytes(2, "big"): ch for ch, cid in cid_of.items()}
    )

    def content(lines: list) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(lines):
            if i:
                ops.append(b"0 -14 Td")
            hx = b"".join(b"%04X" % cid_of[ch] for ch in line)
            ops.append(b"<" + hx + b"> Tj")
        ops.append(b"ET")
        return b"\n".join(ops)

    objs: list[bytes] = []
    n_pages = len(pages)
    # layout: 1 catalog, 2 pages (Resources inherited from here — the
    # real-world inheritance path extract must handle), 3 Type0 font,
    # 4 descendant CIDFont, 5 ToUnicode stream, then per page i:
    # (6+2i) page object, (7+2i) its content stream
    kids = b" ".join(b"%d 0 R" % (6 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d "
        b"/Resources << /Font << /F1 3 0 R >> >> >>" % n_pages
    )
    objs.append(
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Synthetic-Identity-H "
        b"/Encoding /Identity-H /DescendantFonts [4 0 R] /ToUnicode 5 0 R >>"
    )
    objs.append(
        b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synthetic "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> /CIDToGIDMap /Identity /DW 500 >>"
    )
    tu = zlib.compress(tounicode, 9) if compress else tounicode
    tu_head = (
        b"<< /Length %d /Filter /FlateDecode >>" % len(tu)
        if compress
        else b"<< /Length %d >>" % len(tu)
    )
    objs.append(tu_head + b"\nstream\n" + tu + b"\nendstream")
    for i, lines in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % (7 + 2 * i)
        )
        data = content(lines)
        if compress:
            data = zlib.compress(data, 9)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(data)
        else:
            head = b"<< /Length %d >>" % len(data)
        objs.append(head + b"\nstream\n" + data + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


# --------------------------------------------------------------- parser


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


_TOKEN = re.compile(
    rb"/[^\s/<>\[\]()]*|<<|>>|\[|\]|[-+]?\d+\.?\d*|\btrue\b|\bfalse\b|\bnull\b|\bR\b|\bobj\b|\bendobj\b|\bstream\b"
)
# pos-anchored keyword probes: used with .match(buf, pos) so hot-path stream
# boundary checks never slice (copy) the tail of the file
_STREAM_KW = re.compile(rb"\s{0,64}stream(\r\n|\n)")
_ENDSTREAM_KW = re.compile(rb"\s{0,64}endstream\b")


def _parse_object(buf: bytes, pos: int):
    """Parse one PDF object starting at ``pos`` (skipping whitespace and
    comments); returns (value, end_pos)."""
    while True:
        while pos < len(buf) and buf[pos] in b" \t\r\n\x00\x0c":
            pos += 1
        if pos < len(buf) and buf[pos : pos + 1] == b"%":
            nl = buf.find(b"\n", pos)
            pos = nl + 1 if nl >= 0 else len(buf)
            continue
        break
    if pos >= len(buf):
        raise ValueError("pdf: unexpected end of data")
    c = buf[pos : pos + 1]
    if buf[pos : pos + 2] == b"<<":
        d = {}
        pos += 2
        while True:
            while pos < len(buf) and buf[pos] in b" \t\r\n":
                pos += 1
            if buf[pos : pos + 2] == b">>":
                return d, pos + 2
            key, pos = _parse_object(buf, pos)
            if not isinstance(key, str) or not key.startswith("/"):
                raise ValueError("pdf: dict key is not a name")
            val, pos = _parse_object(buf, pos)
            d[key[1:]] = val
    if c == b"[":
        arr = []
        pos += 1
        while True:
            while pos < len(buf) and buf[pos] in b" \t\r\n":
                pos += 1
            if buf[pos : pos + 1] == b"]":
                return arr, pos + 1
            v, pos = _parse_object(buf, pos)
            arr.append(v)
    if c == b"/":
        m = re.match(rb"/[^\s/<>\[\]()%]*", buf[pos:])
        return m.group().decode("latin-1"), pos + m.end()
    if c == b"(":
        return _parse_literal_string(buf, pos)
    if c == b"<":
        end = buf.index(b">", pos)
        hx = re.sub(rb"\s", b"", buf[pos + 1 : end])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")), end + 1
    m = re.match(rb"[-+]?\d+\.?\d*", buf[pos:])
    if m:
        tok = m.group()
        after = pos + m.end()
        # indirect reference lookahead: "N G R"
        m2 = re.match(rb"\s+(\d+)\s+R\b", buf[after:])
        if b"." not in tok and m2:
            return _Ref(int(tok)), after + m2.end()
        return (float(tok) if b"." in tok else int(tok)), after
    for word, val in ((b"true", True), (b"false", False), (b"null", None)):
        if buf[pos : pos + len(word)] == word:
            return val, pos + len(word)
    raise ValueError(f"pdf: cannot parse object at byte {pos}")


def _parse_literal_string(buf: bytes, pos: int):
    assert buf[pos : pos + 1] == b"("
    out = bytearray()
    depth = 1
    i = pos + 1
    while i < len(buf):
        b = buf[i]
        if b == 0x5C:  # backslash
            nxt = buf[i + 1]
            esc = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:
                m = re.match(rb"[0-7]{1,3}", buf[i + 1 :])
                out.append(int(m.group(), 8) & 0xFF)
                i += 1 + m.end()
            elif nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                if nxt == 0x0D and buf[i : i + 1] == b"\n":
                    i += 1
            else:
                out.append(nxt)
                i += 2
        elif b == 0x28:
            depth += 1
            out.append(b)
            i += 1
        elif b == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(b)
            i += 1
        else:
            out.append(b)
            i += 1
    raise ValueError("pdf: unterminated string")


def _predictor_decode(data: bytes, predictor: int, columns: int,
                      colors: int = 1, bpc: int = 8) -> bytes:
    """Undo a /DecodeParms predictor on FlateDecoded data.  Predictor 1 is
    identity; 2 is TIFF horizontal differencing; >= 10 are the PNG row
    filters (ISO 32000-1 §7.4.4.4 points at the PNG spec) — every real
    xref-stream writer uses PNG Up (12), and per the PNG model the filter
    type is re-read from each row's tag byte regardless of which >=10
    value /Predictor carries."""
    if predictor == 1:
        return data
    bpp = max(1, (colors * bpc) // 8)
    rowlen = columns * bpp
    if predictor == 2:
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for i in range(r + bpp, min(r + rowlen, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    if predictor < 10:
        raise NotImplementedError(f"pdf: predictor {predictor}")
    if len(data) % (rowlen + 1):
        raise ValueError("pdf: predicted data is not whole rows")
    out = bytearray()
    prev = bytearray(rowlen)
    for r in range(0, len(data), rowlen + 1):
        ft = data[r]
        row = bytearray(data[r + 1 : r + 1 + rowlen])
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"pdf: unknown PNG filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def _read_xref_table(buf: bytes, at: int, entries: dict) -> dict:
    """Parse one classic cross-reference section + its trailer dict;
    first-seen wins in ``entries`` (the walk runs newest-first), and free
    ('f') entries are recorded too so a newer deletion is not resurrected
    by an older section's offset."""
    pos = at + 4
    while True:
        m = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", buf[pos:])
        if not m:
            break
        start, count = int(m.group(1)), int(m.group(2))
        pos += m.end()
        for i in range(count):
            entry = buf[pos : pos + 20]
            if entry[17:18] == b"n":
                entries.setdefault(start + i, ("file", int(entry[:10])))
            elif entry[17:18] == b"f":
                entries.setdefault(start + i, ("free",))
            pos += 20
    m = re.match(rb"\s*trailer\b", buf[pos:])
    if not m:
        raise ValueError("pdf: xref table without a trailer dictionary")
    trailer, _ = _parse_object(buf, pos + m.end())
    if not isinstance(trailer, dict):
        raise ValueError("pdf: trailer is not a dictionary")
    return trailer


def _read_xref_stream(buf: bytes, at: int, entries: dict) -> dict:
    """Parse a PDF 1.5+ cross-reference STREAM (ISO 32000-1 §7.5.8): an
    indirect stream object of /Type /XRef whose data is fixed-width
    binary rows described by /W, covering the object ranges in /Index.
    Row types: 0 free, 1 in-file (field 2 = byte offset), 2 compressed
    (field 2 = holding object stream's number, field 3 = index inside
    it).  The stream doubles as the trailer dictionary.  Xref streams
    are never encrypted, and the spec requires their dict values to be
    direct, so this can run before any crypt init."""
    m = re.match(rb"(\d+)\s+\d+\s+obj\b", buf[at:])
    if not m:
        raise ValueError(
            "pdf: xref offset points at neither an xref table nor an "
            "xref stream object"
        )
    d, end = _parse_object(buf, at + m.end())
    if not isinstance(d, dict) or d.get("Type") != "/XRef":
        raise ValueError("pdf: object at startxref is not /Type /XRef")
    m2 = _STREAM_KW.match(buf, end)
    if not m2:
        raise ValueError("pdf: xref stream object without stream data")
    length = d.get("Length")
    if not isinstance(length, int):
        # §7.5.8.2: xref-stream dict entries shall be direct
        raise ValueError("pdf: xref stream /Length must be a direct integer")
    raw = buf[m2.end() : m2.end() + length]
    if len(raw) != length or not _ENDSTREAM_KW.match(buf, m2.end() + length):
        raise ValueError("pdf: xref stream truncated or /Length mismatch")
    filt = d.get("Filter")
    for f in filt if isinstance(filt, list) else ([filt] if filt else []):
        if f == "/FlateDecode":
            raw = decompress("zlib", raw)
        else:
            raise NotImplementedError(f"pdf: xref stream filter {f}")
    parms = d.get("DecodeParms")
    if isinstance(parms, list):
        parms = next((p for p in parms if isinstance(p, dict)), None)
    if isinstance(parms, dict) and parms.get("Predictor", 1) != 1:
        raw = _predictor_decode(
            raw,
            int(parms["Predictor"]),
            int(parms.get("Columns", 1)),
            int(parms.get("Colors", 1)),
            int(parms.get("BitsPerComponent", 8)),
        )
    w = d.get("W")
    size = d.get("Size")
    if (not isinstance(w, list) or len(w) != 3
            or not all(isinstance(x, int) and x >= 0 for x in w)):
        raise ValueError("pdf: xref stream /W must be three non-negative ints")
    if not isinstance(size, int):
        raise ValueError("pdf: xref stream without integer /Size")
    index = d.get("Index", [0, size])
    if not isinstance(index, list) or len(index) % 2:
        raise ValueError("pdf: xref stream /Index must be (start,count) pairs")
    rowlen = sum(w)
    if rowlen == 0:
        raise ValueError("pdf: xref stream with zero-width rows")
    pos = 0
    for s in range(0, len(index), 2):
        start, count = index[s], index[s + 1]
        for i in range(count):
            row = raw[pos : pos + rowlen]
            if len(row) != rowlen:
                raise ValueError("pdf: xref stream data shorter than /Index")
            pos += rowlen
            f1 = int.from_bytes(row[: w[0]], "big") if w[0] else 1
            f2 = int.from_bytes(row[w[0] : w[0] + w[1]], "big")
            f3 = int.from_bytes(row[w[0] + w[1] :], "big")
            num = start + i
            if f1 == 1:
                entries.setdefault(num, ("file", f2))
            elif f1 == 2:
                entries.setdefault(num, ("objstm", f2, f3))
            else:
                # type 0 = free; any other type shall be read as a
                # reference to null (§7.5.8.3) — both mean "absent"
                entries.setdefault(num, ("free",))
    return d


def _load_xref(buf: bytes) -> tuple[dict, dict]:
    """Walk the whole cross-reference chain from ``startxref``: classic
    tables, PDF 1.5+ xref streams, /Prev incremental-update links, and
    hybrid-reference /XRefStm pointers (read between a table and its
    /Prev, per §7.5.8.4).  Returns (entries, trailer) where entries maps
    object number -> ('file', offset) | ('objstm', container, idx) |
    ('free',), newest claim winning, and trailer is the merged trailer
    dict (newest value per key)."""
    tail = buf[-256:]
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", tail)
    if not m:
        raise ValueError("pdf: no startxref trailer")
    entries: dict[int, tuple] = {}
    trailer: dict = {}
    queue = [int(m.group(1))]
    seen: set[int] = set()
    while queue:
        at = queue.pop(0)
        if at in seen:
            # a cyclic /Prev chain would re-read sections forever
            raise ValueError("pdf: cyclic cross-reference chain")
        seen.add(at)
        if len(seen) > 1024:
            raise ValueError("pdf: cross-reference chain too long")
        if buf[at : at + 4] == b"xref":
            t = _read_xref_table(buf, at, entries)
            # hybrid files: the /XRefStm stream outranks older sections
            # but not this table's own entries — enqueue it before /Prev
            if isinstance(t.get("XRefStm"), int):
                queue.append(t["XRefStm"])
        else:
            t = _read_xref_stream(buf, at, entries)
        if isinstance(t.get("Prev"), int):
            queue.append(t["Prev"])
        for k, v in t.items():
            trailer.setdefault(k, v)
    return entries, trailer


class _Doc:
    def __init__(self, buf: bytes, password: bytes = b""):
        self.buf = buf
        self.xref, trailer = _load_xref(buf)
        self._crypt_key = None
        self._crypt_method = None
        self._encrypt_obj = None
        self._objstm_cache: dict[int, list] = {}
        self._objstm_loading: set[int] = set()
        self.trailer = trailer
        if "Encrypt" in trailer:
            enc_ref = trailer["Encrypt"]
            if isinstance(enc_ref, _Ref):
                self._encrypt_obj = enc_ref.num
            enc = self.resolve(enc_ref)
            self._init_crypt(enc, password)

    def _init_crypt(self, enc: dict, password: bytes) -> None:
        """Standard security handler: RC4 revisions 2/3 (ISO 32000-1
        §7.6.3), AESV2 revision 4 (/V 4 crypt filters), and AESV3
        revisions 5/6 (/V 5, AES-256) — the full "owner-locked"
        spectrum real corpora carry.  Non-standard handlers and
        unknown crypt-filter methods stay loud seams."""
        from .pdf_crypt import check_user_password, check_user_password_v5

        if enc.get("Filter") != "/Standard":
            raise NotImplementedError(
                f"pdf: security handler {enc.get('Filter')!r} — only the "
                "standard handler decrypts natively"
            )
        v, r = self.resolve(enc.get("V")), self.resolve(enc.get("R"))
        if v == 5 and r in (5, 6):
            self._crypt_key = check_user_password_v5(
                password,
                self.resolve(enc["U"]),
                self.resolve(enc["UE"]),
                r,
            )
            if "Perms" in enc:
                from .pdf_crypt import check_perms

                check_perms(
                    self.resolve(enc["Perms"]), self._crypt_key,
                    self.resolve(enc["P"]),
                )
            self._crypt_method = "aesv3"
            return
        if v == 4 and r == 4:
            cfm = None
            cf = self.resolve(enc.get("CF"))
            stmf = self.resolve(enc.get("StmF", "/Identity"))
            if isinstance(cf, dict) and stmf != "/Identity":
                stdcf = self.resolve(cf.get(stmf.lstrip("/")))
                if isinstance(stdcf, dict):
                    cfm = self.resolve(stdcf.get("CFM"))
            if cfm not in ("/AESV2", "/V2"):
                raise NotImplementedError(
                    f"pdf: /V 4 crypt filter method {cfm!r} — AESV2 and "
                    "V2 (RC4) decrypt natively"
                )
            method = "aesv2" if cfm == "/AESV2" else "rc4"
        elif v in (1, 2) and r in (2, 3):
            method = "rc4"
        else:
            raise NotImplementedError(
                f"pdf: encryption V={v} R={r} — RC4 revisions 2/3, AESV2 "
                "revision 4, and AESV3 revisions 5/6 decrypt natively"
            )
        n = 5 if r == 2 else self.resolve(enc.get("Length", 40)) // 8
        ids = self.trailer.get("ID")
        if not isinstance(ids, list) or not ids:
            raise ValueError("pdf: encrypted document without a file /ID")
        self._crypt_key = check_user_password(
            password,
            self.resolve(enc["O"]),
            self.resolve(enc["U"]),
            self.resolve(enc["P"]),
            ids[0],
            r,
            n,
        )
        self._crypt_method = method

    def resolve(self, v):
        seen: set[int] = set()
        while isinstance(v, _Ref):
            if v.num in seen:
                # a self/mutually-referential object would loop forever —
                # a wedged executor, the one failure mode worse than a
                # quarantined record
                raise ValueError(f"pdf: reference cycle at object {v.num}")
            seen.add(v.num)
            v = self.object_at(v.num)
        return v

    def _objstm_objects(self, stm_num: int) -> list:
        """Load and cache one /Type /ObjStm container (ISO 32000-1
        §7.5.7): the decompressed stream starts with N (objnum, offset)
        integer pairs, then the objects themselves from /First on.
        Returns the parsed [(objnum, value), ...] in header order."""
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        if stm_num in self._objstm_loading:
            # an ObjStm whose own xref entry points back into an ObjStm
            # chain would recurse forever; the spec requires type-1
            raise ValueError(
                f"pdf: object stream {stm_num} is itself stored compressed"
            )
        self._objstm_loading.add(stm_num)
        try:
            obj = self.object_at(stm_num)
        finally:
            self._objstm_loading.discard(stm_num)
        if not isinstance(obj, dict) or obj.get("Type") != "/ObjStm":
            raise ValueError(
                f"pdf: xref type-2 entry points at object {stm_num}, "
                "which is not /Type /ObjStm"
            )
        data = self.stream_data(obj)
        n = self.resolve(obj.get("N"))
        first = self.resolve(obj.get("First"))
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("pdf: ObjStm without integer /N and /First")
        pairs = []
        pos = 0
        for _ in range(n):
            m = re.match(rb"\s*(\d+)\s+(\d+)", data[pos:])
            if not m or pos + m.end() > first:
                raise ValueError("pdf: ObjStm header shorter than /N pairs")
            pairs.append((int(m.group(1)), int(m.group(2))))
            pos += m.end()
        objs = []
        for objnum, off in pairs:
            val, _ = _parse_object(data, first + off)
            objs.append((objnum, val))
        self._objstm_cache[stm_num] = objs
        return objs

    def object_at(self, num: int):
        ent = self.xref.get(num)
        if ent is None or ent[0] == "free":
            raise ValueError(f"pdf: object {num} missing from xref")
        if ent[0] == "objstm":
            stm_num, idx = ent[1], ent[2]
            objs = self._objstm_objects(stm_num)
            if idx >= len(objs):
                raise ValueError(
                    f"pdf: ObjStm {stm_num} has no index {idx}"
                )
            objnum, val = objs[idx]
            if objnum != num:
                # an xref entry whose (container, index) lands on a
                # different object — overlapping or corrupt ObjStm
                raise ValueError(
                    f"pdf: ObjStm {stm_num}[{idx}] holds object "
                    f"{objnum}, xref claims {num}"
                )
            # §7.5.7: objects inside object streams are never streams
            # themselves and are not individually encrypted (the
            # container stream already was)
            return val
        pos = ent[1]
        m = re.match(rb"\s*(\d+)\s+\d+\s+obj\b", self.buf[pos:])
        if not m or int(m.group(1)) != num:
            raise ValueError(f"pdf: xref offset for object {num} is wrong")
        val, end = _parse_object(self.buf, pos + m.end())
        if isinstance(val, dict):
            m2 = _STREAM_KW.match(self.buf, end)
            if m2:
                d0 = m2.end()
                length = self.resolve(val.get("Length"))
                if not isinstance(length, int):
                    raise ValueError("pdf: stream without integer /Length")
                raw = self.buf[d0 : d0 + length]
                if len(raw) != length:
                    raise ValueError("pdf: stream truncated")
                # a LYING short /Length silently truncates an uncompressed
                # content stream — demand `endstream` right after the
                # declared extent (whitespace allowed, per spec).  Match
                # in place (pos-anchored, bounded whitespace run) so this
                # never copies the remainder of the file per stream.
                if not _ENDSTREAM_KW.match(self.buf, d0 + length):
                    raise ValueError("pdf: stream /Length mismatch")
                if self._crypt_key is not None and num != self._encrypt_obj:
                    from .pdf_crypt import (
                        aes_decrypt_payload, object_key, object_key_aes, rc4,
                    )

                    if self._crypt_method == "aesv3":
                        raw = aes_decrypt_payload(self._crypt_key, raw)
                    elif self._crypt_method == "aesv2":
                        raw = aes_decrypt_payload(
                            object_key_aes(self._crypt_key, num), raw
                        )
                    else:
                        raw = rc4(object_key(self._crypt_key, num), raw)
                val["__stream__"] = raw
        return val

    def stream_data(self, obj: dict) -> bytes:
        raw = obj["__stream__"]
        filt = self.resolve(obj.get("Filter"))
        if filt is None:
            return raw
        filts = filt if isinstance(filt, list) else [filt]
        # /DecodeParms is a PARALLEL array when /Filter is one (ISO
        # 32000-1 7.3.8.2): parms_for(i) is filter i's dict, with null
        # entries (and a short/absent array) defaulting to {} — never
        # parms[0] for every filter (r13 ADVICE).
        all_parms = self.resolve(obj.get("DecodeParms"))
        if not isinstance(all_parms, list):
            all_parms = [all_parms] if len(filts) == 1 else [
                all_parms if i == 0 else None for i in range(len(filts))
            ]

        def parms_for(i: int) -> dict:
            p = self.resolve(all_parms[i]) if i < len(all_parms) else None
            return p if isinstance(p, dict) else {}

        for fi, f in enumerate(filts):
            if f == "/FlateDecode":
                raw = decompress("zlib", raw)
            elif f == "/CCITTFaxDecode":
                # the full /K surface: G4 (K < 0, what scanned PDFs
                # overwhelmingly carry), 1D MH G3 (K = 0) and mixed
                # 2D MR G3 (K > 0, the fax-transmission shape)
                from .ccitt import (
                    decode_g3_1d,
                    decode_g3_2d,
                    decode_g4,
                    pack_rows,
                )

                parms = parms_for(fi)
                k = self.resolve(parms.get("K", 0))
                eba = bool(self.resolve(parms.get("EncodedByteAlign",
                                                   False)))
                if eba and k < 0:
                    raise NotImplementedError(
                        "pdf: CCITT EncodedByteAlign with G4 unsupported"
                    )
                cols = self.resolve(parms.get("Columns", 1728))
                rows = self.resolve(parms.get("Rows"))
                if rows is None:
                    rows = self.resolve(obj.get("Height"))
                if k < 0:
                    bits = decode_g4(raw, cols, rows)
                elif k > 0:
                    bits = decode_g3_2d(raw, cols, rows, byte_align=eba)
                else:
                    bits = decode_g3_1d(raw, cols, rows, byte_align=eba)
                if not self.resolve(parms.get("BlackIs1", False)):
                    # PDF default polarity: 0 output bits are BLACK
                    bits = [1 - b for b in bits]
                raw = pack_rows(bits, cols)
            elif f in ("/ASCIIHexDecode", "/ASCII85Decode",
                       "/RunLengthDecode", "/LZWDecode"):
                # the pre-Flate-era filters (Acrobat 1.x-3.x exports,
                # PostScript conversions) — operators/pdf_filters.py
                from . import pdf_filters as PF

                if f == "/ASCIIHexDecode":
                    raw = PF.ascii_hex_decode(raw)
                elif f == "/ASCII85Decode":
                    raw = PF.ascii85_decode(raw)
                elif f == "/RunLengthDecode":
                    raw = PF.rle_decode(raw)
                else:
                    parms = parms_for(fi)
                    if self.resolve(parms.get("Predictor", 1)) != 1:
                        raise NotImplementedError(
                            "pdf: LZW predictors unsupported"
                        )
                    raw = PF.lzw_decode(
                        raw, early=self.resolve(parms.get("EarlyChange", 1))
                    )
            else:
                raise NotImplementedError(
                    f"pdf: filter {f} needs an external codec — "
                    "Flate/LZW/RunLength/ASCIIHex/ASCII85/CCITT-G4 "
                    "decode natively"
                )
        return raw


def _walk_pages(doc: _Doc, node: dict, out: list, depth: int = 0,
                inherited_res=None) -> None:
    # a Kids entry pointing back at an ancestor recurses forever (each
    # object_at re-parse yields a fresh dict, so identity tracking can't
    # see the cycle) — cap the depth; real page trees are a few levels
    if depth > 64:
        raise ValueError("pdf: page tree too deep (Kids cycle?)")
    t = node.get("Type")
    # /Resources is inheritable through the page tree (ISO 32000 §7.7.3.4)
    res = node.get("Resources", inherited_res)
    if t == "/Pages":
        for kid in doc.resolve(node["Kids"]):
            _walk_pages(doc, doc.resolve(kid), out, depth + 1, res)
    elif t == "/Page":
        out.append((node, res))
    else:
        raise ValueError(f"pdf: unexpected page-tree node type {t!r}")


# ------------------------------------------------- ToUnicode CMaps (CID)
# CID-keyed (Type0) fonts show CODES, not bytes of text: the /ToUnicode
# CMap (ISO 32000 §9.10.3, Adobe CMap spec) is the document's own
# code→Unicode table.  Most post-2010 real-world PDFs use CID fonts, so
# text recovery without this is a quarantine, not an extraction.

_CODESPACE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.S
)
_BFCHAR = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXSTR = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _hexbytes(tok: bytes) -> bytes:
    hx = re.sub(rb"\s", b"", tok)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _utf16be(b: bytes) -> str:
    # destination strings in a ToUnicode CMap are UTF-16BE code units —
    # surrogate pairs (non-BMP) decode to one character here
    return b.decode("utf-16-be")


def parse_tounicode_cmap(data: bytes) -> tuple[list, dict]:
    """Parse a ToUnicode CMap stream.  Returns ``(codespace, mapping)``:
    ``codespace`` is ``[(lo_bytes, hi_bytes), ...]`` (each pair the same
    width — the code byte-width table), ``mapping`` maps raw code bytes
    to their Unicode string (possibly multi-char: ligatures, and
    UTF-16BE surrogate pairs collapse to the astral char).  Handles
    ``bfchar``, both ``bfrange`` destination forms (start-hex and
    array-of-hex), and multiple blocks of each."""
    codespace: list = []
    for m in _CODESPACE.finditer(data):
        toks = _HEXSTR.findall(m.group(1))
        if len(toks) % 2:
            raise ValueError("pdf: odd codespacerange operand count")
        for i in range(0, len(toks), 2):
            lo, hi = _hexbytes(toks[i]), _hexbytes(toks[i + 1])
            if len(lo) != len(hi) or not lo:
                raise ValueError("pdf: codespacerange width mismatch")
            codespace.append((lo, hi))
    if not codespace:
        raise ValueError("pdf: ToUnicode CMap has no codespacerange")
    mapping: dict = {}
    for m in _BFCHAR.finditer(data):
        toks = _HEXSTR.findall(m.group(1))
        if len(toks) % 2:
            raise ValueError("pdf: odd bfchar operand count")
        for i in range(0, len(toks), 2):
            mapping[_hexbytes(toks[i])] = _utf16be(_hexbytes(toks[i + 1]))
    for m in _BFRANGE.finditer(data):
        body = m.group(1)
        pos = 0
        n = len(body)
        while pos < n:
            while pos < n and body[pos] in b" \t\r\n":
                pos += 1
            if pos >= n:
                break
            mlo = _HEXSTR.match(body, pos)
            if not mlo:
                raise ValueError("pdf: malformed bfrange (lo)")
            pos = mlo.end()
            while pos < n and body[pos] in b" \t\r\n":
                pos += 1
            mhi = _HEXSTR.match(body, pos)
            if not mhi:
                raise ValueError("pdf: malformed bfrange (hi)")
            pos = mhi.end()
            while pos < n and body[pos] in b" \t\r\n":
                pos += 1
            lo, hi = _hexbytes(mlo.group(1)), _hexbytes(mhi.group(1))
            if len(lo) != len(hi) or lo > hi:
                raise ValueError("pdf: bfrange bounds malformed")
            width = len(lo)
            lo_i, hi_i = int.from_bytes(lo, "big"), int.from_bytes(hi, "big")
            if body[pos : pos + 1] == b"[":
                # array form: one destination hex string per code
                end = body.index(b"]", pos)
                dsts = _HEXSTR.findall(body[pos + 1 : end])
                if len(dsts) != hi_i - lo_i + 1:
                    raise ValueError("pdf: bfrange array length mismatch")
                for k, d in enumerate(dsts):
                    mapping[(lo_i + k).to_bytes(width, "big")] = _utf16be(
                        _hexbytes(d)
                    )
                pos = end + 1
            else:
                mdst = _HEXSTR.match(body, pos)
                if not mdst:
                    raise ValueError("pdf: malformed bfrange (dst)")
                pos = mdst.end()
                dst = _hexbytes(mdst.group(1))
                # start form: the LAST UTF-16 code unit increments per
                # spec ("the last byte of the string is incremented")
                base = int.from_bytes(dst[-2:], "big") if len(dst) >= 2 else 0
                for k in range(hi_i - lo_i + 1):
                    unit = (base + k).to_bytes(2, "big")
                    mapping[(lo_i + k).to_bytes(width, "big")] = _utf16be(
                        dst[:-2] + unit
                    )
    return codespace, mapping


def decode_with_cmap(b: bytes, codespace: list, mapping: dict) -> str:
    """Decode shown string bytes through a ToUnicode CMap: split into
    codes by matching codespace ranges (byte-width aware), then map each
    code.  An unmapped or out-of-codespace code raises — one hostile or
    OCR-only document costs one record, never silent mojibake."""
    out: list = []
    pos, n = 0, len(b)
    while pos < n:
        code = None
        for lo, hi in codespace:
            w = len(lo)
            cand = b[pos : pos + w]
            if len(cand) == w and lo <= cand <= hi:
                code = cand
                break
        if code is None:
            raise ValueError(
                f"pdf: show-string byte {b[pos]:#04x} at {pos} outside "
                "every codespace range"
            )
        try:
            out.append(mapping[code])
        except KeyError:
            raise ValueError(
                f"pdf: CID {int.from_bytes(code, 'big')} unmapped by "
                "ToUnicode CMap"
            ) from None
        pos += len(code)
    return "".join(out)


def write_tounicode_cmap(mapping: dict) -> bytes:
    """Serialize ``{code_bytes: unicode_str}`` into a spec-shaped
    ToUnicode CMap stream.  Consecutive single-char runs (code+1 ↔
    codepoint+1, BMP only) collapse into ``bfrange`` rows; everything
    else is ``bfchar``; blocks chunk at 100 entries per the CMap spec."""
    if not mapping:
        raise ValueError("pdf: empty ToUnicode mapping")
    widths = {len(c) for c in mapping}
    if len(widths) != 1:
        raise ValueError("pdf: mixed code widths in one ToUnicode mapping")
    w = widths.pop()
    codes = sorted(mapping)
    # greedy run detection for bfrange
    ranges: list = []   # (lo_int, hi_int, start_cp)
    chars: list = []    # (code_bytes, dst_utf16be_hex)
    i = 0
    while i < len(codes):
        c0 = int.from_bytes(codes[i], "big")
        s0 = mapping[codes[i]]
        if len(s0) == 1 and ord(s0) < 0x10000:
            j = i
            while (
                j + 1 < len(codes)
                and int.from_bytes(codes[j + 1], "big")
                == int.from_bytes(codes[j], "big") + 1
                and len(mapping[codes[j + 1]]) == 1
                and ord(mapping[codes[j + 1]])
                == ord(mapping[codes[j]]) + 1
                and ord(mapping[codes[j + 1]]) < 0x10000
                # a range must not straddle a low-byte boundary (spec:
                # only the last byte increments)
                and (int.from_bytes(codes[j + 1], "big") & 0xFF) != 0x00
            ):
                j += 1
            if j > i:
                ranges.append((c0, int.from_bytes(codes[j], "big"), ord(s0)))
                i = j + 1
                continue
        chars.append(
            (codes[i], s0.encode("utf-16-be").hex().upper())
        )
        i += 1
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) "
        b"/Supplement 0 >> def",
        b"/CMapName /Adobe-Identity-UCS def",
        b"/CMapType 2 def",
        b"1 begincodespacerange",
        b"<" + (b"00" * w) + b"> <" + (b"FF" * w) + b">",
        b"endcodespacerange",
    ]
    for k in range(0, len(chars), 100):
        chunk = chars[k : k + 100]
        lines.append(b"%d beginbfchar" % len(chunk))
        for code, dst in chunk:
            lines.append(
                b"<%s> <%s>" % (code.hex().upper().encode(), dst.encode())
            )
        lines.append(b"endbfchar")
    for k in range(0, len(ranges), 100):
        chunk = ranges[k : k + 100]
        lines.append(b"%d beginbfrange" % len(chunk))
        for lo, hi, cp in chunk:
            lines.append(
                b"<%s> <%s> <%04X>"
                % (
                    lo.to_bytes(w, "big").hex().upper().encode(),
                    hi.to_bytes(w, "big").hex().upper().encode(),
                    cp,
                )
            )
        lines.append(b"endbfrange")
    lines += [b"endcmap", b"CMapName currentdict /CMap defineresource pop",
              b"end", b"end"]
    return b"\n".join(lines)


# ------------------------------------------- simple-font /Encoding maps
# Annex D encodings + /Differences (ISO 32000-1 §9.6.6): the pre-CID
# real-world shape — a simple font's shown bytes are CODES whose
# meaning rides in the font's /Encoding entry, not UTF-8.  Glyph names
# resolve per the public Adobe Glyph List conventions: uniXXXX /
# uXXXX[XX] forms computationally, the Standard-name set for ASCII via
# the table below (letters and digits are their own names).

_STD_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
}
for _d in "0123456789":
    _STD_GLYPH_NAMES[
        ("zero", "one", "two", "three", "four", "five", "six", "seven",
         "eight", "nine")[int(_d)]
    ] = _d
for _c in "abcdefghijklmnopqrstuvwxyz":
    _STD_GLYPH_NAMES[_c] = _c
    _STD_GLYPH_NAMES[_c.upper()] = _c.upper()


def glyph_to_char(name: str) -> str:
    """Resolve a glyph NAME (no leading slash) to its character per the
    AGL conventions; unknown names raise loudly — a silently dropped
    glyph is corrupted text."""
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            pass
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            pass
    if name in _STD_GLYPH_NAMES:
        return _STD_GLYPH_NAMES[name]
    raise NotImplementedError(
        f"pdf: glyph name /{name} not in the implemented AGL subset "
        "(uniXXXX/uXXXXXX forms and the Standard ASCII names)"
    )


def _base_encoding_char(base: str, code: int) -> str:
    """One byte through a base encoding.  WinAnsi is byte-identical to
    cp1252 and MacRoman to mac-roman (both public tables, both decoded
    via CPython's independent codecs so the mapping cannot drift);
    their undefined slots raise.  Other bases stay loud seams."""
    if base == "/WinAnsiEncoding":
        codec = "cp1252"
    elif base == "/MacRomanEncoding":
        codec = "mac-roman"
    else:
        raise NotImplementedError(
            f"pdf: base encoding {base} — WinAnsi and MacRoman decode "
            "natively"
        )
    try:
        return bytes([code]).decode(codec)
    except UnicodeDecodeError:
        raise ValueError(
            f"pdf: code {code} is undefined in {base}"
        ) from None


def _encoding_decoder(doc: _Doc, enc):
    """Build byte-code → char decoding for a simple font's /Encoding:
    a bare base-encoding name, or a dict with /BaseEncoding and a
    /Differences array ([code name name ... code name ...])."""
    if isinstance(enc, str):
        base, diffs = enc, None
    elif isinstance(enc, dict):
        base = doc.resolve(enc.get("BaseEncoding", "/WinAnsiEncoding"))
        diffs = doc.resolve(enc.get("Differences"))
    else:
        raise ValueError("pdf: /Encoding is neither a name nor a dict")
    table: dict[int, str] = {}
    if diffs is not None:
        if not isinstance(diffs, list):
            raise ValueError("pdf: /Differences is not an array")
        code = None
        for item in diffs:
            if isinstance(item, int):
                code = item
            elif isinstance(item, str) and item.startswith("/"):
                if code is None or not 0 <= code <= 255:
                    raise ValueError(
                        "pdf: /Differences name without a valid code"
                    )
                table[code] = glyph_to_char(item[1:])
                code += 1
            else:
                raise ValueError(
                    f"pdf: /Differences entry {item!r} is neither a "
                    "code nor a name"
                )

    def decode(b: bytes) -> str:
        return "".join(
            table[c] if c in table else _base_encoding_char(base, c)
            for c in b
        )

    return decode


def _font_decoder(doc: _Doc, font: dict):
    """Build the shown-bytes → str decoder for one font dict.  Priority:
    an embedded /ToUnicode CMap (the spec's own reverse map — works for
    simple AND Type0 fonts); a simple font's /Encoding entry (base
    encoding + /Differences, §9.6.6 — the pre-CID real-world shape);
    a Type0 font without a ToUnicode is the loud seam (recovery would
    need the embedded font program's cmap table); simple fonts with
    neither decode as UTF-8 bytes (this module's writer convention —
    PDF strings are byte strings)."""
    tu = font.get("ToUnicode")
    if tu is not None:
        stream = doc.resolve(tu)
        if not isinstance(stream, dict) or "__stream__" not in stream:
            raise ValueError("pdf: /ToUnicode is not a stream")
        codespace, mapping = parse_tounicode_cmap(doc.stream_data(stream))
        return lambda b: decode_with_cmap(b, codespace, mapping)
    enc = font.get("Encoding")
    if enc is not None and font.get("Subtype") != "/Type0":
        return _encoding_decoder(doc, doc.resolve(enc))
    if font.get("Subtype") == "/Type0":
        raise NotImplementedError(
            "pdf: Type0 (CID) font without /ToUnicode — recovery needs "
            "the embedded font program's cmap table (documented seam)"
        )
    return lambda b: b.decode("utf-8")


_OPTOK = re.compile(rb"[^\s()<>\[\]/%]+")
_NAMETOK = re.compile(rb"/[^\s/<>\[\]()%]*")
_SHOW_OPS = (b"Tj", b"TJ", b"'", b'"')


def _page_text(doc: _Doc, page: dict, resources) -> list:
    """Collect text-showing operands from the page's content stream(s)
    in order, decoding each through the font selected by the ``Tf``
    operator (ToUnicode CMap when the font carries one, UTF-8 bytes for
    simple fonts).  Returns the list of shown strings."""
    contents = doc.resolve(page.get("Contents"))
    streams = contents if isinstance(contents, list) else [contents]
    data = b"\n".join(doc.stream_data(doc.resolve(s)) for s in streams)
    fonts = {}
    if resources is not None:
        res = doc.resolve(resources)
        fdict = doc.resolve(res.get("Font")) if isinstance(res, dict) else None
        if isinstance(fdict, dict):
            fonts = fdict
    decoders: dict = {}

    def decoder_for(name: str):
        if name not in decoders:
            if name not in fonts:
                raise ValueError(f"pdf: Tf names unknown font {name!r}")
            decoders[name] = _font_decoder(doc, doc.resolve(fonts[name]))
        return decoders[name]

    shown: list = []
    pos = 0
    pending: list = []
    cur = None       # active decoder (set by Tf)
    last_name = None  # most recent name operand (Tf's font operand)
    utf8 = lambda b: b.decode("utf-8")  # noqa: E731 — no-Tf legacy fallback
    while pos < len(data):
        c = data[pos : pos + 1]
        if c == b"(":
            s, pos = _parse_literal_string(data, pos)
            pending.append(s)
            continue
        if c == b"<" and data[pos : pos + 2] != b"<<":
            end = data.index(b">", pos)
            hx = re.sub(rb"\s", b"", data[pos + 1 : end])
            if len(hx) % 2:
                hx += b"0"
            pending.append(bytes.fromhex(hx.decode("ascii")))
            pos = end + 1
            continue
        if data[pos : pos + 2] in (b"<<", b">>"):
            pos += 2
            continue
        if c == b"/":
            m = _NAMETOK.match(data, pos)
            last_name = m.group()[1:].decode("latin-1")
            pos = m.end()
            continue
        if c in b" \t\r\n[]":
            pos += 1
            continue
        m = _OPTOK.match(data, pos)
        if not m:
            pos += 1
            continue
        tok = m.group()
        pos = m.end()
        if tok in _SHOW_OPS:
            dec = cur if cur is not None else utf8
            shown += [dec(s) for s in pending]
            pending = []
        elif tok == b"Tf":
            if last_name is None:
                raise ValueError("pdf: Tf with no font name operand")
            cur = decoder_for(last_name)
        # any other token (numbers, non-showing operators): skip.
        # Strings only reach ``shown`` through a show operator, so a
        # string operand of e.g. a marked-content op would be dropped at
        # the next flush — acceptable for text recovery, which is the
        # contract here.
    return shown


def tounicode_entries(payload: bytes) -> int:
    """Count distinct (code, unicode) pairs across every /ToUnicode CMap
    reachable from the document's page fonts — independent evidence that
    the CMaps were structurally parsed (the extraction oracle checks this
    against the source text's distinct-character count)."""
    doc = _Doc(payload)
    root = doc.resolve(doc.trailer["Root"])
    pages: list = []
    _walk_pages(doc, doc.resolve(root["Pages"]), pages)
    seen: set = set()
    done: set = set()
    for _page, res in pages:
        if res is None:
            continue
        rd = doc.resolve(res)
        fonts = doc.resolve(rd.get("Font")) if isinstance(rd, dict) else None
        if not isinstance(fonts, dict):
            continue
        for f in fonts.values():
            font = doc.resolve(f)
            tu = font.get("ToUnicode")
            if tu is None:
                continue
            stream = doc.resolve(tu)
            key = id(stream) if not isinstance(tu, _Ref) else tu.num
            if key in done:
                continue
            done.add(key)
            _, mapping = parse_tounicode_cmap(doc.stream_data(stream))
            seen.update(mapping.items())
    return len(seen)


def extract_pdf_images(payload: bytes, password: bytes = b"") -> list:
    """Extract the image XObjects reachable from the page tree, in
    (page order, resource name) order: ``[(name, width, height,
    filter_name, data), ...]``.  FlateDecoded (and unfiltered) images
    return their RAW SAMPLES; /DCTDecode images return the embedded
    JPEG FILE bytes verbatim — the standard extractor behavior, since
    the JPEG stream *is* the interchange file (decode it with
    operators/jpeg.decode_jpeg).  Other filters raise the documented
    codec seam."""
    if payload[:5] != b"%PDF-":
        raise ValueError("pdf: missing %PDF header")
    doc = _Doc(payload, password=password)
    root = doc.resolve(doc.trailer["Root"])
    pages: list = []
    _walk_pages(doc, doc.resolve(root["Pages"]), pages)
    out = []
    for _page, res in pages:
        if res is None:
            continue
        rd = doc.resolve(res)
        xd = doc.resolve(rd.get("XObject")) if isinstance(rd, dict) else None
        if not isinstance(xd, dict):
            continue
        for name in sorted(xd):
            obj = doc.resolve(xd[name])
            if not isinstance(obj, dict) or obj.get("Subtype") != "/Image":
                continue
            w = doc.resolve(obj.get("Width"))
            h = doc.resolve(obj.get("Height"))
            filt = doc.resolve(obj.get("Filter"))
            if filt == "/DCTDecode":
                data = obj["__stream__"]
            else:
                data = doc.stream_data(obj)  # None/Flate; others raise
            out.append((name, w, h, filt, data))
    return out


def encoding_differences_count(payload: bytes) -> int:
    """Distinct codes remapped by /Differences across the document's
    page fonts — structural evidence the /Encoding dict was parsed
    (the oracle recomputes the expected count from the staged text's
    character census)."""
    doc = _Doc(payload)
    root = doc.resolve(doc.trailer["Root"])
    pages: list = []
    _walk_pages(doc, doc.resolve(root["Pages"]), pages)
    codes: set = set()
    for _page, res in pages:
        if res is None:
            continue
        rd = doc.resolve(res)
        fonts = doc.resolve(rd.get("Font")) if isinstance(rd, dict) else None
        if not isinstance(fonts, dict):
            continue
        for f in fonts.values():
            font = doc.resolve(f)
            enc = doc.resolve(font.get("Encoding"))
            if not isinstance(enc, dict):
                continue
            diffs = doc.resolve(enc.get("Differences"))
            if not isinstance(diffs, list):
                continue
            code = None
            for item in diffs:
                if isinstance(item, int):
                    code = item
                elif code is not None:
                    codes.add(code)
                    code += 1
    return len(codes)


def extract_pdf_text(payload: bytes, password: bytes = b"") -> list:
    """Extract per-page text lines.  Returns ``[[line, ...], ...]`` (one
    list per page, in page-tree order).  Simple-font text decodes as the
    exact shown bytes in UTF-8; CID/Type0 (and any font with a
    /ToUnicode CMap) decodes code-by-code through the CMap.  RC4
    standard-handler encryption (revisions 2/3) decrypts transparently —
    the default empty ``password`` opens owner-locked documents; a wrong
    password fails the /U check loudly."""
    if payload[:5] != b"%PDF-":
        raise ValueError("pdf: missing %PDF header")
    doc = _Doc(payload, password=password)
    root = doc.resolve(doc.trailer["Root"])
    pages: list = []
    _walk_pages(doc, doc.resolve(root["Pages"]), pages)
    return [_page_text(doc, p, res) for p, res in pages]


def extract_pdf_text_profiled(
    payload: bytes, password: bytes = b""
) -> tuple[list, dict]:
    """``extract_pdf_text`` plus the cross-reference profile from the
    SAME parse: counts of in-file (type-1), compressed (type-2 /ObjStm)
    and free entries the chain walk resolved.  The type-2 count is the
    oracle's structural evidence that object-stream indirection was
    actually decoded (a linear body scan would extract the same text
    but could not report it)."""
    if payload[:5] != b"%PDF-":
        raise ValueError("pdf: missing %PDF header")
    doc = _Doc(payload, password=password)
    prof = {"file": 0, "objstm": 0, "free": 0}
    for e in doc.xref.values():
        prof[e[0]] += 1
    root = doc.resolve(doc.trailer["Root"])
    pages: list = []
    _walk_pages(doc, doc.resolve(root["Pages"]), pages)
    return [_page_text(doc, p, res) for p, res in pages], prof

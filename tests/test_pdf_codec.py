"""PDF subset codec tests — operators/pdf.py.

Written from the public ISO 32000 structure.  Evidence: byte-exact text
round-trips across the escape/encoding surface, both stream paths (raw +
FlateDecode), structural features real extractors depend on (xref
offsets honored, indirect /Length, nested page trees, hex strings, TJ
arrays), and loud failure for every damage class (truncation, wrong
xref, stream length lies, encryption, unsupported filters).
"""

from __future__ import annotations

import re
import zlib

import pytest

from etl_pipeline_old_spark.operators.pdf import (
    _parse_object,
    extract_pdf_text,
    write_pdf,
)

_PAGES = [
    ["Hello (world) \\ test", "line two", "ünïcødé строка 中文"],
    ["page2 only line"],
]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip_byte_exact(compress):
    assert extract_pdf_text(write_pdf(_PAGES, compress)) == _PAGES


def test_control_chars_octal_escaped():
    pages = [["tab\there", "nl\nembedded", "cr\rtoo"]]
    assert extract_pdf_text(write_pdf(pages, True)) == pages


def test_empty_page_and_empty_line():
    pages = [[""], ["", "x"]]
    assert extract_pdf_text(write_pdf(pages, False)) == pages


def test_xref_offsets_are_honored_not_scanned():
    # move every object by injecting a comment BEFORE the body and fixing
    # nothing: extraction must fail because xref offsets are now wrong —
    # proving the parser trusts the xref, not a linear scan
    pdf = write_pdf(_PAGES, False)
    broken = pdf.replace(b"1 0 obj", b"% pad\n1 0 obj", 1)
    with pytest.raises(ValueError, match="xref offset|missing from xref"):
        extract_pdf_text(broken)


def test_object_grammar():
    val, _ = _parse_object(
        b"<< /A [1 2.5 (s) <414243> /N true null] /B 3 0 R >>", 0
    )
    assert val["A"][0] == 1 and val["A"][1] == 2.5
    assert val["A"][2] == b"s" and val["A"][3] == b"ABC"
    assert val["A"][4] == "/N" and val["A"][5] is True and val["A"][6] is None
    assert val["B"].num == 3


def test_nested_literal_string_parens():
    val, _ = _parse_object(b"(a (nested (deep)) b)", 0)
    assert val == b"a (nested (deep)) b"


def test_hex_string_extraction():
    # same-length patch (offsets and /Length untouched): literal string
    # swapped for a hex string shown by Tj
    pdf = write_pdf([["base"]], False)
    patched = pdf.replace(b"(base) Tj", b"<6261> Tj", 1)
    assert extract_pdf_text(patched) == [["ba"]]


def test_tj_array_extraction():
    # same-length patch: TJ array with a kerning number between strings
    pdf = write_pdf([["base"]], False)
    patched = pdf.replace(b"(base) Tj", b"[(ba)]TJ ", 1)
    assert extract_pdf_text(patched) == [["ba"]]


def test_truncated_stream_is_loud():
    pdf = write_pdf(_PAGES, True)
    # lie about a stream's length WITHOUT shifting offsets: same digit
    # width, all nines — far past the end of this small file
    broken = re.sub(
        rb"/Length (\d+) /Filter",
        lambda m: b"/Length " + b"9" * len(m.group(1)) + b" /Filter",
        pdf,
        count=1,
    )
    with pytest.raises(ValueError, match="stream truncated"):
        extract_pdf_text(broken)


def test_dangling_encrypt_ref_is_loud():
    # r11: RC4 standard-handler encryption decrypts natively now
    # (tests/test_pdf_crypt.py); a trailer /Encrypt pointing at a
    # missing object is damage, not a seam
    pdf = write_pdf(_PAGES, False)
    broken = pdf.replace(
        b"<< /Size", b"<< /Encrypt 9 0 R /Size", 1
    )
    with pytest.raises(ValueError, match="missing from xref"):
        extract_pdf_text(broken)


def test_unsupported_filter_is_documented_seam():
    pdf = write_pdf([["x" * 40]], True)
    # same-length filter-name swap so offsets hold
    broken = pdf.replace(b"/Filter /FlateDecode", b"/Filter  /DCTDecode ", 1)
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        extract_pdf_text(broken)


def test_missing_header_is_loud():
    with pytest.raises(ValueError, match="PDF header"):
        extract_pdf_text(b"not a pdf at all")


def test_flate_stream_actually_compressed():
    long_pages = [["z" * 59] * 20]
    raw = write_pdf(long_pages, False)
    comp = write_pdf(long_pages, True)
    assert len(comp) < len(raw)
    assert b"/FlateDecode" in comp
    # and the stream inflates to the raw content-stream bytes
    m = re.search(rb"stream\n(.*?)\nendstream", comp, re.S)
    assert b"z" * 59 in zlib.decompress(m.group(1))


def test_document_corpus_capstone_plan_locks(spark):
    # Python only at the parse; downstream is codegen into the standard
    # two-phase distinct aggregate — exactly 2 Exchanges, no joins
    from etl_pipeline_old_spark.queries.formats.formats_pdf import (
        pipeline_document_corpus,
    )

    df = pipeline_document_corpus(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 2


# ------------------------------------------------- CID / ToUnicode CMaps

from etl_pipeline_old_spark.operators.pdf import (  # noqa: E402
    decode_with_cmap,
    parse_tounicode_cmap,
    write_pdf_cid,
    write_tounicode_cmap,
)


@pytest.mark.parametrize("compress", [False, True])
def test_cid_roundtrip_byte_exact(compress):
    pdf = write_pdf_cid(_PAGES, compress)
    assert extract_pdf_text(pdf) == _PAGES
    # the shown strings are CID codes: raw text must NOT appear in the body
    assert "Hello".encode() not in pdf
    assert b"/Identity-H" in pdf and b"/ToUnicode" in pdf


def test_cid_astral_surrogate_pair():
    pages = [["emoji \U0001F600 end", "\U0001F680 rocket"]]
    assert extract_pdf_text(write_pdf_cid(pages)) == pages


def test_cid_resources_inherited_from_pages_node():
    # write_pdf_cid puts /Resources on the /Pages node, not each /Page —
    # extraction must walk the inheritance chain (ISO 32000 §7.7.3.4)
    pdf = write_pdf_cid([["inherit me"]])
    assert b"/Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents" in pdf
    assert extract_pdf_text(pdf) == [["inherit me"]]


def test_cmap_bfchar_ligature_and_bfrange_both_forms():
    cmap = (
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<01> <006600660069>\nendbfchar\n"
        b"1 beginbfrange\n<10> <12> [<0041> <0042> <0043>]\nendbfrange\n"
        b"1 beginbfrange\n<20> <22> <0061>\nendbfrange\n"
    )
    cs, mp = parse_tounicode_cmap(cmap)
    assert decode_with_cmap(b"\x01\x10\x12\x20\x22", cs, mp) == "ffiACac"


def test_cmap_two_byte_codespace_and_serializer_roundtrip():
    mapping = {bytes([0, i]): chr(0x400 + i) for i in range(1, 40)}
    mapping[b"\x00\xf0"] = "ffi"
    mapping[b"\x01\x00"] = "\U0001F600"
    ser = write_tounicode_cmap(mapping)
    # consecutive runs must collapse to bfrange, the rest stay bfchar
    assert b"beginbfrange" in ser and b"beginbfchar" in ser
    cs, mp = parse_tounicode_cmap(ser)
    assert mp == mapping
    buf = b"".join(sorted(mapping))
    assert decode_with_cmap(buf, cs, mp) == "".join(
        mapping[c] for c in sorted(mapping)
    )


def test_unmapped_cid_is_loud():
    cmap = (
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"1 beginbfchar\n<0001> <0041>\nendbfchar\n"
    )
    cs, mp = parse_tounicode_cmap(cmap)
    with pytest.raises(ValueError, match="unmapped by ToUnicode"):
        decode_with_cmap(b"\x00\x02", cs, mp)


def test_out_of_codespace_byte_is_loud():
    cmap = (
        b"1 begincodespacerange\n<0020> <00FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<0041> <0041>\nendbfchar\n"
    )
    cs, mp = parse_tounicode_cmap(cmap)
    with pytest.raises(ValueError, match="outside every codespace"):
        decode_with_cmap(b"\xff\xff", cs, mp)


def test_type0_without_tounicode_is_documented_seam():
    pdf = write_pdf_cid([["abc"]])
    # blank the key name in place (same byte length keeps xref valid)
    broken = pdf.replace(b"/ToUnicode 5 0 R", b"/ToUnicodX 5 0 R")
    with pytest.raises(NotImplementedError, match="without /ToUnicode"):
        extract_pdf_text(broken)


def test_cmap_without_codespace_is_loud():
    with pytest.raises(ValueError, match="no codespacerange"):
        parse_tounicode_cmap(b"1 beginbfchar\n<01> <0041>\nendbfchar\n")


def test_bfrange_array_length_mismatch_is_loud():
    cmap = (
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfrange\n<10> <12> [<0041> <0042>]\nendbfrange\n"
    )
    with pytest.raises(ValueError, match="array length mismatch"):
        parse_tounicode_cmap(cmap)


def test_mixed_simple_and_cid_fonts_in_one_doc():
    # page 1 simple font (utf-8 bytes), page 2 CID — a merged/stitched
    # document shape; each page's Tf picks its own decode path
    from etl_pipeline_old_spark.operators.pdf import write_pdf as _wp

    simple = _wp([["plain page"]])
    cid = write_pdf_cid([["cid страница"]])
    assert extract_pdf_text(simple) == [["plain page"]]
    assert extract_pdf_text(cid) == [["cid страница"]]


# ------------------------------------------------ xref streams / ObjStm
# PDF 1.5+ cross-reference streams (ISO 32000-1 §7.5.8), object streams
# (§7.5.7), /Prev incremental-update chains, and hybrid /XRefStm files.

from etl_pipeline_old_spark.operators.pdf import (  # noqa: E402
    _Doc,
    _predictor_decode,
    _read_xref_stream,
    _xref_stream_obj,
    write_pdf_xrefstream,
)


@pytest.mark.parametrize("compress", [False, True])
@pytest.mark.parametrize("objstm", [False, True])
@pytest.mark.parametrize("predictor", [False, True])
@pytest.mark.parametrize("incremental", [False, True])
def test_xrefstream_roundtrip_matrix(compress, objstm, predictor, incremental):
    buf = write_pdf_xrefstream(
        _PAGES, compress=compress, objstm=objstm, predictor=predictor,
        incremental=incremental,
    )
    assert extract_pdf_text(buf) == _PAGES


def test_incremental_update_text_requires_prev_walk():
    # the base revision carries placeholder content; the real text only
    # exists in the appended update.  A reader that skipped /Prev would
    # miss catalog/pages entirely; one with old-wins precedence would
    # return the placeholders.  Byte-exact recovery proves newest-wins
    # over the whole chain.
    buf = write_pdf_xrefstream(_PAGES, objstm=True, incremental=True)
    assert b"SUPERSEDED REVISION" in buf  # stale bytes really are present
    assert extract_pdf_text(buf) == _PAGES


def test_objstm_objects_parse_and_cache():
    buf = write_pdf_xrefstream(_PAGES, objstm=True, compress=True)
    doc = _Doc(buf)
    assert any(e[0] == "objstm" for e in doc.xref.values())
    cat = doc.resolve(doc.trailer["Root"])
    assert cat["Type"] == "/Catalog"
    assert len(doc._objstm_cache) == 1  # container decoded once


def test_xrefstream_entry_offsets_honored_not_scanned():
    pdf = write_pdf_xrefstream(_PAGES, objstm=False)
    broken = pdf.replace(b"1 0 obj", b"% pad\n1 0 obj", 1)
    with pytest.raises(ValueError, match="xref offset|missing from xref"):
        extract_pdf_text(broken)


def test_png_predictor_all_filter_types():
    # one row per PNG filter type over 4-byte rows; expected raw rows are
    # recovered from an independently hand-encoded buffer
    raws = [bytes([10, 20, 30, 40]), bytes([5, 5, 5, 5]),
            bytes([7, 9, 11, 13]), bytes([100, 1, 2, 3]),
            bytes([0, 255, 128, 64])]
    enc = bytearray()
    prev = bytes(4)
    for ft, row in enumerate(raws):  # filter types 0..4 in order
        enc.append(ft)
        for i, b in enumerate(row):
            a = row[i - 1] if ft in (1, 3, 4) and i else 0
            up = prev[i] if ft in (2, 3, 4) else 0
            c = prev[i - 1] if ft == 4 and i else 0
            if ft == 0:
                enc.append(b)
            elif ft == 1:
                enc.append((b - a) & 0xFF)
            elif ft == 2:
                enc.append((b - up) & 0xFF)
            elif ft == 3:
                enc.append((b - (a + up) // 2) & 0xFF)
            else:
                p = a + up - c
                pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                enc.append((b - pred) & 0xFF)
        prev = row
    assert _predictor_decode(bytes(enc), 12, 4) == b"".join(raws)


def test_tiff_predictor_2():
    # TIFF horizontal differencing, 3-byte rows
    raw = bytes([10, 5, 7, 200, 56, 0])
    enc = bytes([10, (5 - 10) & 0xFF, (7 - 5) & 0xFF,
                 200, (56 - 200) & 0xFF, (0 - 56) & 0xFF])
    assert _predictor_decode(enc, 2, 3) == raw


def test_predictor_partial_row_is_loud():
    with pytest.raises(ValueError, match="whole rows"):
        _predictor_decode(b"\x02\x01\x02\x03\x00\x07", 12, 4)


def _cyclic_prev_pdf() -> bytes:
    # a lone xref stream whose /Prev points at ITSELF — the chain walk
    # must refuse, not spin
    head = b"%PDF-1.5\n"
    at = len(head)
    body = _xref_stream_obj([(0, 0, 0, 65535), (1, 1, at, 0)], 2, 1,
                            prev=at)
    return (head + b"1 0 obj\n" + body + b"\nendobj\n"
            + b"startxref\n%d\n%%%%EOF\n" % at)


def test_cyclic_prev_chain_is_loud():
    with pytest.raises(ValueError, match="cyclic cross-reference"):
        extract_pdf_text(_cyclic_prev_pdf())


def test_overlapping_objstm_entry_is_loud():
    # an xref type-2 entry whose (container, index) lands on a DIFFERENT
    # object than it claims — overlapping/corrupt ObjStm mapping
    buf = write_pdf_xrefstream(_PAGES, objstm=True)
    doc = _Doc(buf)
    packed = sorted(n for n, e in doc.xref.items() if e[0] == "objstm")
    a, b = packed[0], packed[1]
    doc.xref[a] = doc.xref[b]  # both names now point at b's slot
    with pytest.raises(ValueError, match="holds object"):
        doc.object_at(a)


def test_objstm_index_out_of_range_is_loud():
    buf = write_pdf_xrefstream(_PAGES, objstm=True)
    doc = _Doc(buf)
    num = next(n for n, e in doc.xref.items() if e[0] == "objstm")
    stm = doc.xref[num][1]
    doc.xref[num] = ("objstm", stm, 999)
    with pytest.raises(ValueError, match="no index"):
        doc.object_at(num)


def test_objstm_stored_compressed_is_loud():
    # an ObjStm container whose OWN xref entry is type-2 (spec requires
    # type-1) would recurse; the loader refuses loudly
    buf = write_pdf_xrefstream(_PAGES, objstm=True)
    doc = _Doc(buf)
    num, ent = next(
        (n, e) for n, e in doc.xref.items() if e[0] == "objstm"
    )
    stm = ent[1]
    doc.xref[stm] = ("objstm", stm, 0)
    with pytest.raises(ValueError, match="itself stored compressed"):
        doc.object_at(num)


def test_freed_object_not_resurrected_by_older_section():
    # newest section frees an object; an older /Prev section still holds
    # an offset for it — first-seen (newest) must win, so the read fails
    buf = write_pdf_xrefstream(_PAGES, objstm=False, incremental=True)
    doc = _Doc(buf)
    # simulate: mark a content object free the way a newer section would
    cont = 5
    assert doc.xref[cont][0] == "file"
    doc.xref[cont] = ("free",)
    with pytest.raises(ValueError, match="missing from xref"):
        doc.object_at(cont)


def _bad_xref_stream(patch_from: bytes, patch_to: bytes) -> bytes:
    body = _xref_stream_obj([(0, 0, 0, 65535), (1, 1, 9, 0)], 2, 1)
    assert patch_from in body
    return b"1 0 obj\n" + body.replace(patch_from, patch_to)


def test_xref_stream_bad_w_is_loud():
    buf = _bad_xref_stream(b"/W [1 4 2]", b"/W [1 4]")
    with pytest.raises(ValueError, match="/W"):
        _read_xref_stream(buf, 0, {})


def test_xref_stream_odd_index_is_loud():
    buf = _bad_xref_stream(b"/Size 2", b"/Size 2 /Index [0 2 1]")
    with pytest.raises(ValueError, match="/Index"):
        _read_xref_stream(buf, 0, {})


def test_xref_stream_data_shorter_than_index_is_loud():
    buf = _bad_xref_stream(b"/Size 2", b"/Size 5")
    with pytest.raises(ValueError, match="shorter than /Index"):
        _read_xref_stream(buf, 0, {})


def test_xref_stream_unknown_row_type_reads_as_free():
    # §7.5.8.3: unknown entry types = reference to null, i.e. absent
    entries: dict = {}
    body = _xref_stream_obj([(0, 7, 123, 0), (1, 1, 9, 0)], 2, 1)
    _read_xref_stream(b"1 0 obj\n" + body, 0, entries)
    assert entries[0] == ("free",)
    assert entries[1] == ("file", 9)


def test_hybrid_xrefstm_bridges_missing_entries():
    # hybrid-reference file (§7.5.8.4): the CLASSIC table covers only the
    # page/content objects; catalog, page tree, and font are reachable
    # ONLY through the /XRefStm stream — extraction works iff the bridge
    # is walked.
    pages = [["hybrid file text"]]
    plain = write_pdf_xrefstream(pages, objstm=False)
    doc = _Doc(plain)
    offs = {n: e[1] for n, e in doc.xref.items() if e[0] == "file"}
    body_end = plain.rfind(b"%d 0 obj" % max(offs))  # start of old xref obj
    out = bytearray(plain[:body_end])
    # xref STREAM covering 0 + objects 1..3 + itself (number 6)
    stm_at = len(out)
    stm_rows = [(0, 0, 0, 65535)] + [(n, 1, offs[n], 0) for n in (1, 2, 3)]
    stm_rows.append((6, 1, stm_at, 0))
    out += b"6 0 obj\n" + _xref_stream_obj(stm_rows, 7, 1) + b"\nendobj\n"
    # classic table covering objects 4 (page) and 5 (content) only
    tbl_at = len(out)
    out += b"xref\n4 2\n"
    out += b"%010d 00000 n \n" % offs[4]
    out += b"%010d 00000 n \n" % offs[5]
    out += (b"trailer\n<< /Size 7 /Root 1 0 R /XRefStm %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (stm_at, tbl_at))
    assert extract_pdf_text(bytes(out)) == pages
    # sanity: without the /XRefStm bridge the same file is unreadable
    broken = bytes(out).replace(b" /XRefStm %d" % stm_at, b"")
    with pytest.raises(ValueError, match="missing from xref"):
        extract_pdf_text(broken)


def test_hybrid_writer_variant_roundtrip():
    # the writer's own hybrid layout (classic table + /XRefStm bridge),
    # complementing the hand-built file above
    for kw in (dict(), dict(compress=True), dict(predictor=True)):
        buf = write_pdf_xrefstream(_PAGES, objstm=False, hybrid=True, **kw)
        assert extract_pdf_text(buf) == _PAGES
        # startxref points at the classic table; the stream is bridged
        assert b"/XRefStm" in buf
    with pytest.raises(ValueError, match="hybrid layout stands alone"):
        write_pdf_xrefstream(_PAGES, hybrid=True)


# ------------------------------------------ simple-font /Encoding (r12)

from etl_pipeline_old_spark.operators.pdf import (  # noqa: E402
    encoding_differences_count,
    glyph_to_char,
    write_pdf_encoded,
)


@pytest.mark.parametrize("mixed", [True, False])
@pytest.mark.parametrize("compress", [False, True])
def test_encoded_roundtrip_byte_exact(mixed, compress):
    pages = [["Привет, мир! Hello.", "строка two"],
             ["стр 2 (скобки) \\ и \t таб"]]
    buf = write_pdf_encoded(pages, mixed=mixed, compress=compress)
    assert extract_pdf_text(buf) == pages
    # the shown bytes are CODES: the Cyrillic UTF-8 bytes never appear
    assert "Привет".encode("utf-8") not in buf
    if not mixed:
        assert b"(Hello" not in buf  # even ASCII is remapped


def test_encoded_differences_census():
    pages = [["абв ABC"]]
    full = write_pdf_encoded(pages, mixed=False)
    mixedb = write_pdf_encoded(pages, mixed=True)
    # full remap: every distinct char; mixed: only the non-ASCII ones
    assert encoding_differences_count(full) == len(set("абв ABC"))
    assert encoding_differences_count(mixedb) == 3


def test_glyph_name_resolution_forms():
    assert glyph_to_char("uni0416") == "Ж"
    assert glyph_to_char("u1F600") == "\U0001F600"
    assert glyph_to_char("space") == " "
    assert glyph_to_char("quotesingle") == "'"
    assert glyph_to_char("seven") == "7"
    assert glyph_to_char("A") == "A"
    with pytest.raises(NotImplementedError, match="AGL subset"):
        glyph_to_char("afii10017")   # honest seam: afii names untabled
    with pytest.raises(NotImplementedError, match="AGL subset"):
        glyph_to_char("uniXYZW")     # malformed hex falls through, loud


def test_winansi_base_matches_cp1252_and_undefined_slots_loud():
    from etl_pipeline_old_spark.operators.pdf import _base_encoding_char

    # spot-check the high range against CPython's independent table
    for code in (0x80, 0x91, 0xA9, 0xE9, 0xFF):
        assert _base_encoding_char("/WinAnsiEncoding", code) == \
            bytes([code]).decode("cp1252")
    assert _base_encoding_char("/MacRomanEncoding", 0xA5) == \
        bytes([0xA5]).decode("mac-roman")
    with pytest.raises(ValueError, match="undefined in /WinAnsiEncoding"):
        _base_encoding_char("/WinAnsiEncoding", 0x81)
    with pytest.raises(NotImplementedError, match="WinAnsi and MacRoman"):
        _base_encoding_char("/PDFDocEncoding", 0x41)


def test_plain_base_encoding_name_without_differences():
    # /Encoding as a bare NAME: WinAnsi bytes decode through cp1252
    pdf = write_pdf_encoded([["plain ascii"]], mixed=True)
    # no non-ASCII chars -> no /Differences emitted at all
    assert b"/Differences" not in pdf
    assert extract_pdf_text(pdf) == [["plain ascii"]]


def test_differences_grammar_damage_is_loud():
    pdf = write_pdf_encoded([["абв"]], mixed=True)
    assert b"/Differences [128" in pdf
    # name before any code: same-length patch replacing the start code
    broken = pdf.replace(b"/Differences [128", b"/Differences [/u1", 1)
    with pytest.raises((ValueError, NotImplementedError)):
        extract_pdf_text(broken)


def test_type0_encoding_name_not_misrouted():
    # a CID font's /Encoding is a CMap NAME (/Identity-H) — it must not
    # reach the simple-font base-encoding path (ToUnicode wins)
    pdf = write_pdf_cid([["cid строка"]])
    assert b"/Identity-H" in pdf
    assert extract_pdf_text(pdf) == [["cid строка"]]


# --------------------------------------------- image XObjects (r12)

from etl_pipeline_old_spark.operators.pdf import (  # noqa: E402
    extract_pdf_images,
    write_pdf_images,
)


def test_image_xobjects_flate_and_dct():
    import numpy as np

    from etl_pipeline_old_spark.operators.jpeg import (
        decode_jpeg, encode_jpeg)

    px = bytes(range(64))
    jpg = encode_jpeg(list(px), 8, 8, quality=90)
    for cc in (False, True):
        pdf = write_pdf_images(
            [("flate", 8, 8, px), ("dct", 8, 8, jpg)], compress_content=cc
        )
        imgs = extract_pdf_images(pdf)
        assert [(n, w, h, f) for n, w, h, f, _ in imgs] == [
            ("Im0", 8, 8, "/FlateDecode"), ("Im1", 8, 8, "/DCTDecode"),
        ]
        assert imgs[0][4] == px          # samples inflate exactly
        assert imgs[1][4] == jpg         # the JPEG file rides verbatim
        w, h, dec = decode_jpeg(imgs[1][4])
        assert (w, h) == (8, 8)
        assert dec.dtype == np.uint8


def test_image_payload_size_mismatch_is_loud():
    with pytest.raises(ValueError, match="payload size mismatch"):
        write_pdf_images([("flate", 8, 8, b"short")])


def test_unknown_image_filter_is_documented_seam():
    px = bytes(range(64))
    pdf = write_pdf_images([("flate", 8, 8, px)])
    broken = pdf.replace(b"/Filter /FlateDecode", b"/Filter /JPXDecode  ", 1)
    with pytest.raises(NotImplementedError, match="JPXDecode"):
        extract_pdf_images(broken)


def test_text_pages_have_no_images():
    assert extract_pdf_images(write_pdf(_PAGES)) == []

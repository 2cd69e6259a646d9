"""Office/ebook/mail/code document extraction — one family of the file-
format sources (see the package docstring)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...registry import register
from ...sources.files import BINARYFILE_SCHEMA, read_blobs, stage_doc_files
from ...workdir import run_dir

from .formats_containers import (  # noqa: F401 — shared helpers
    _PDF_LINE,
    _PDF_PAGE_LINES,
    _pdf_pages,
)

from .formats_media import _CORRUPT_MOD

from .formats_video_text import (  # noqa: F401 — shared helpers
    _docx_paragraphs,
    _render_docx,
)


@register(
    "pipeline_docx_extract",
    oracle=f"""
    SELECT doc_id,
      CAST(greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
        AS INT) AS n_paras,
      length(text) AS n_chars,
      1 AS text_exact
    FROM documents
    """,
    doc="DOCX text extraction (operators/ooxml.py, ECMA-376 "
    "WordprocessingML) — after PDF and HTML the next biggest slice of "
    "a real document corpus: each document stages as a spec-valid "
    ".docx package (the engine's OWN ZIP writer; [Content_Types].xml, "
    "package rels, word/document.xml) whose paragraphs are "
    "deliberately fragmented across uneven w:r runs with "
    "xml:space='preserve' (real producers split mid-word around "
    "formatting), and extraction walks the package with the engine's "
    "own central-directory reader + stdlib ElementTree (no external "
    "entity resolution), reassembling runs and mapping w:tab/w:br "
    "elements to characters. The oracle demands byte-exact text "
    "recovery, so a run-reassembly, escaping, or whitespace bug "
    "cannot hide. Malformed XML, missing parts, and ZIP damage raise "
    "per record. Scale: the standard binaryFile + Arrow-kernel shape "
    "— parse cost is the document's own size, map-side only.",
)
def pipeline_docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "docx_files", "docx", _render_docx
    )
    bf = (
        read_blobs(spark, path, "docx")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.docx$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.ooxml import extract_docx_text

        for b in batches:
            out = {
                "doc_id": [], "n_paras": [], "n_chars": [], "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                paras = extract_docx_text(bytes(content))
                rebuilt = "".join(paras)
                out["doc_id"].append(int(doc_id))
                out["n_paras"].append(len(paras))
                out["n_chars"].append(len(rebuilt))
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op, schema="doc_id long, n_paras int, n_chars long, text_exact int"
    )
def _render_docx_full(doc_id: int, text: str) -> bytes:
    from ...operators.ooxml import write_docx

    kw: dict = {"footnotes": ["FN:" + text[:9]]}
    if doc_id % 2 == 0:
        kw["header"] = ["H%d" % doc_id]
        kw["footer"] = ["F%d" % doc_id]
    if doc_id % 3 == 0:
        kw["endnotes"] = ["EN:" + text[-9:]]
    return write_docx(_docx_paragraphs(text), **kw)
@register(
    "pipeline_docx_aux_extract",
    oracle=f"""
    SELECT doc_id,
      CAST(greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
           + (CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END)
           + 1
           + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS INT)
        AS n_paras,
      CAST(length(text)
           + (CASE WHEN doc_id % 2 = 0
              THEN 2 + 2 * length(CAST(doc_id AS VARCHAR)) ELSE 0 END)
           + 3 + least(9, length(text))
           + (CASE WHEN doc_id % 3 = 0
              THEN 3 + least(9, length(text)) ELSE 0 END) AS BIGINT)
        AS n_chars,
      1 AS text_exact
    FROM documents
    """,
    doc="DOCX auxiliary-part extraction (r11 verdict #5): real corpora "
    "carry body text in footnotes (academic documents especially), "
    "headers, footers, and endnotes — parts the plain "
    "word/document.xml walk never sees. Each document stages with a "
    "footnote carrying the text's first 9 chars, headers+footers on "
    "even ids, and an endnote with the last 9 chars on ids ≡0 mod 3; "
    "extraction walks word/_rels/document.xml.rels, loads the "
    "referenced header/footer/footnotes/endnotes parts, SKIPS the "
    "w:type'd separator/continuation notes every producer emits "
    "(keeping them would grow phantom paragraphs), and appends the "
    "recovered paragraphs in the documented deterministic order "
    "(body, headers, footers, footnotes, endnotes). The oracle "
    "recomputes paragraph and character accounting from the staging "
    "formulas and demands byte-exact recovery of the full "
    "concatenation — a missed part, a mis-ordered append, or a "
    "swallowed separator all flip text_exact or the counts. A rels "
    "entry pointing at a missing part raises per record. Scale: "
    "identical to pipeline_docx_extract — map-side Arrow kernel, "
    "cost bounded by each package's own bytes.",
)
def pipeline_docx_aux_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "docx_aux_files", "docx", _render_docx_full
    )
    bf = (
        read_blobs(spark, path, "docx")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.docx$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.ooxml import extract_docx_text

        for b in batches:
            out = {
                "doc_id": [], "n_paras": [], "n_chars": [], "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                did = int(doc_id)
                paras = extract_docx_text(bytes(content))
                rebuilt = "".join(paras)
                exp = text
                if did % 2 == 0:
                    exp += "H%d" % did + "F%d" % did
                exp += "FN:" + text[:9]
                if did % 3 == 0:
                    exp += "EN:" + text[-9:]
                out["doc_id"].append(did)
                out["n_paras"].append(len(paras))
                out["n_chars"].append(len(rebuilt))
                out["text_exact"].append(1 if rebuilt == exp else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op, schema="doc_id long, n_paras int, n_chars long, text_exact int"
    )
def _render_xlsx(doc_id: int, text: str) -> bytes:
    from ...operators.ooxml import write_xlsx

    parity = "even" if doc_id % 2 == 0 else "odd"
    return write_xlsx(
        [
            [doc_id, len(text), parity],
            [2 * doc_id, None, text[:8]],
            [doc_id % 3 == 0, -doc_id, parity],
        ]
    )
@register(
    "multimodal_xlsx_cells",
    oracle="""
    SELECT doc_id,
      8 AS n_cells,
      CAST(2 * doc_id + length(text) AS BIGINT) AS sum_num,
      3 AS n_str,
      CAST(2 * (CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END)
           + least(8, length(text)) AS BIGINT) AS str_chars,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT) AS bool_true
    FROM documents
    """,
    doc="XLSX typed-cell extraction (operators/ooxml.py, ECMA-376 "
    "SpreadsheetML) — spreadsheets are the reference-data staple of "
    "real corpora: each document stages as a spec-valid .xlsx whose "
    "cells exercise every value channel — numerics (incl. negative), "
    "booleans, SPARSE rows (A1 references must be decoded, density "
    "never assumed), and strings routed through BOTH encodings: "
    "repeated values via the shared-string table (the value in the "
    "cell is an INDEX — resolving it wrong yields numbers where text "
    "belongs) and first-sight values inline. The oracle independently "
    "recomputes the numeric sum, resolved-string character mass, and "
    "boolean truth from the base table, so index-resolution, "
    "reference-decode, and type-dispatch bugs cannot hide. "
    "Out-of-range shared indexes and unknown cell types raise per "
    "record. Scale: map-side Arrow kernel over binaryFile, like every "
    "media family.",
)
def multimodal_xlsx_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "xlsx_files", "xlsx", _render_xlsx
    )
    bf = (
        read_blobs(spark, path, "xlsx")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.xlsx$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.ooxml import extract_xlsx_cells

        for b in batches:
            out = {
                "doc_id": [], "n_cells": [], "sum_num": [], "n_str": [],
                "str_chars": [], "bool_true": [],
            }
            for doc_id, content in zip(b["doc_id"], b["content"]):
                cells = extract_xlsx_cells(bytes(content))
                nums = [
                    float(v) for _s, _r, _c, k, v in cells if k == "num"
                ]
                strs = [v for _s, _r, _c, k, v in cells if k == "str"]
                bools = [v for _s, _r, _c, k, v in cells if k == "bool"]
                out["doc_id"].append(int(doc_id))
                out["n_cells"].append(len(cells))
                out["sum_num"].append(int(sum(nums)))
                out["n_str"].append(len(strs))
                out["str_chars"].append(sum(len(s) for s in strs))
                out["bool_true"].append(sum(1 for v in bools if v == "1"))
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, n_cells int, sum_num bigint, n_str int, "
        "str_chars bigint, bool_true int",
    )
def _render_pptx(doc_id: int, text: str) -> bytes:
    from ...operators.ooxml import write_pptx

    return write_pptx(_pdf_pages(text))
@register(
    "pipeline_pptx_extract",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
               AS n_lines
      FROM documents)
    SELECT doc_id,
      CAST((n_lines + {_PDF_PAGE_LINES - 1}) // {_PDF_PAGE_LINES} AS INT)
        AS n_slides,
      length(text) AS n_chars,
      1 AS text_exact
    FROM b
    """,
    doc="PPTX slide-text extraction (operators/ooxml.py, ECMA-376 "
    "PresentationML) — completes the OOXML trio: each document stages "
    "as a spec-valid .pptx (presentation part, per-slide parts and "
    "rels) whose paragraphs fragment across uneven a:r runs exactly "
    "like the DOCX writer, and extraction orders slides by PART "
    "NUMBER, not directory order (slide10 sorts after slide2 — the "
    "lexicographic trap), reassembling runs per a:p. The oracle "
    "demands byte-exact text recovery and independently recomputes "
    "the slide count from the pagination formula. Scale: map-side "
    "Arrow kernel over binaryFile like the sibling document formats.",
)
def pipeline_pptx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "pptx_files", "pptx", _render_pptx
    )
    bf = (
        read_blobs(spark, path, "pptx")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.pptx$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.ooxml import extract_pptx_text

        for b in batches:
            out = {
                "doc_id": [], "n_slides": [], "n_chars": [],
                "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                slides = extract_pptx_text(bytes(content))
                rebuilt = "".join(p for s in slides for p in s)
                out["doc_id"].append(int(doc_id))
                out["n_slides"].append(len(slides))
                out["n_chars"].append(len(rebuilt))
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op, schema="doc_id long, n_slides int, n_chars long, text_exact int"
    )
def _render_rtf(doc_id: int, text: str) -> bytes:
    from ...operators.rtf import write_rtf

    return write_rtf(_docx_paragraphs(text))
@register(
    "pipeline_rtf_extract",
    oracle=f"""
    SELECT doc_id,
      CAST(greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
        AS INT) AS n_paras,
      length(text) AS n_chars,
      1 AS text_exact
    FROM documents
    """,
    doc="RTF text extraction (operators/rtf.py, written from the "
    "public RTF 1.9.1 spec) — the legacy-document staple: decades of "
    "word-processor and records-system exports that are often the "
    "least re-obtainable slice of a corpus. The extractor implements "
    "the constructs that silently garble text when skipped: "
    "destination groups (fonttbl/stylesheet/info and ignorable "
    "\\\\*-destinations) whose TEXT is metadata and must not leak, "
    "signed-16-bit \\\\uN Unicode escapes with group-scoped \\\\ucN "
    "fallback skipping and surrogate-pair recombination, \\\\'hh hex "
    "escapes decoded through the declared \\\\ansicpgN code page (the "
    "reference domain's cp1251 reality), blind \\\\binN payload "
    "skipping (raw bytes may contain braces), and \\\\par/\\\\line/"
    "\\\\tab controls. The staged corpus routes every non-ASCII "
    "character through \\\\uN escapes and the oracle demands "
    "byte-exact recovery; unbalanced groups and truncated escapes "
    "raise per record. Scale: map-side Arrow kernel over binaryFile.",
)
def pipeline_rtf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "rtf_files", "rtf", _render_rtf)
    bf = (
        read_blobs(spark, path, "rtf")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.rtf$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.rtf import extract_rtf_text

        for b in batches:
            out = {
                "doc_id": [], "n_paras": [], "n_chars": [], "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                paras = extract_rtf_text(bytes(content))
                rebuilt = "".join(paras)
                out["doc_id"].append(int(doc_id))
                out["n_paras"].append(len(paras))
                out["n_chars"].append(len(rebuilt))
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op, schema="doc_id long, n_paras int, n_chars long, text_exact int"
    )
_ZIP_PWS = (b"archive-a", b"archive-b", b"archive-c")
def _render_zip_encrypted(doc_id: int, text: str) -> bytes:
    from ...operators.pkzip import write_zip

    return write_zip(
        [
            ("doc.txt", text.encode("utf-8"), "deflated"),
            ("meta.txt", f"id={doc_id}".encode(), "stored"),
        ],
        password=_ZIP_PWS[doc_id % 3],
    )
@register(
    "multimodal_zip_encrypted",
    oracle="""
    SELECT doc_id,
      2 AS n_members,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_text_bytes,
      1 AS text_exact
    FROM documents
    """,
    doc="Password-protected ZIP shard ingestion (operators/pkzip.py, "
    "APPNOTE 6.1 traditional/ZipCrypto encryption) — legacy document "
    "dumps arrive password-protected routinely; a pipeline that can "
    "only quarantine them drops the whole slice. The own keystream "
    "implementation (three rolling keys over one-byte CRC-32 steps) "
    "is cross-validated against CPython zipfile's INDEPENDENT "
    "decryptor — every staged archive is re-read by zipfile with the "
    "password in tests/test_pkzip.py — and the 12-byte encryption "
    "header's CRC check byte makes a wrong password loud (backstopped "
    "by the post-inflate member CRC). Documents cycle three "
    "credentials; extraction decrypts, inflates, and the oracle "
    "demands exact text recovery plus the UTF-8 byte mass. Scale: "
    "decryption is a per-record byte pass inside the Arrow kernel, "
    "like the RC4 PDF path.",
)
def multimodal_zip_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "zipenc_files", "zip", _render_zip_encrypted
    )
    bf = (
        read_blobs(spark, path, "zip")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.zip$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.pkzip import read_zip

        for b in batches:
            out = {
                "doc_id": [], "n_members": [], "n_text_bytes": [],
                "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                members = read_zip(
                    bytes(content), password=_ZIP_PWS[int(doc_id) % 3]
                )
                data = {n: d for n, d, _m in members}
                rebuilt = data["doc.txt"].decode("utf-8")
                out["doc_id"].append(int(doc_id))
                out["n_members"].append(len(members))
                out["n_text_bytes"].append(len(data["doc.txt"]))
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_members int, n_text_bytes bigint, "
        "text_exact int",
    )
def _render_corrupt_docx(doc_id: int, text: str) -> bytes:
    from ...operators.ooxml import write_docx

    blob = write_docx(_docx_paragraphs(text))
    if doc_id % _CORRUPT_MOD == 0:
        # tear the tail: the EOCD record — what a truncated upload of a
        # ZIP package actually loses (the central directory is the
        # authoritative index, so the walk fails loudly, not wrongly)
        return blob[: len(blob) // 2]
    return blob
@register(
    "docx_ingest_quarantine",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN 'corrupt' ELSE 'ok' END
             AS status,
           CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN NULL
                ELSE length(text) END AS n_chars
    FROM documents
    """,
    doc="Per-record QUARANTINE for the office-document family: every "
    f"{_CORRUPT_MOD}th staged .docx is torn mid-archive (losing the "
    "central directory + EOCD — what a truncated package upload "
    "actually loses), the kernel wraps the package walk + XML parse "
    "per record and routes failures to a status column, and the "
    "oracle checks both halves: corrupt packages quarantine with NULL "
    "extraction, every healthy package still recovers its text "
    "byte-exactly. One parser definition — the same code that raises "
    "in pipeline_docx_extract. The operational sibling of "
    "pdf_ingest_quarantine for the OOXML path.",
)
def docx_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "docx_corrupt", "docx", _render_corrupt_docx
    )
    bf = read_blobs(spark, path, "docx").select("path", "content")

    def op(batches):
        import re as _re

        import pandas as pd

        from ...operators.ooxml import extract_docx_text

        for b in batches:
            out = {"doc_id": [], "status": [], "n_chars": []}
            for p, content in zip(b["path"], b["content"]):
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.docx$", p).group(1))
                )
                try:
                    paras = extract_docx_text(bytes(content))
                    out["status"].append("ok")
                    out["n_chars"].append(sum(len(x) for x in paras))
                except (ValueError, NotImplementedError):
                    out["status"].append("corrupt")
                    out["n_chars"].append(None)
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op, schema="doc_id long, status string, n_chars long"
    )
def _render_epub(doc_id: int, text: str) -> bytes:
    from ...operators.epub import write_epub

    return write_epub(_pdf_pages(text), title=f"doc-{doc_id}")
@register(
    "pipeline_epub_extract",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
               AS n_lines
      FROM documents)
    SELECT doc_id,
      CAST((n_lines + {_PDF_PAGE_LINES - 1}) // {_PDF_PAGE_LINES} AS INT)
        AS n_chapters,
      length(text) AS n_chars,
      1 AS text_exact
    FROM b
    """,
    doc="EPUB book-text extraction (operators/epub.py, IDPF/W3C OCF + "
    "Package specs) — books are the long-document backbone of "
    "pretraining corpora, and their reading order is DATA: container "
    "-> OPF package -> manifest (id->href) -> SPINE sequence, hrefs "
    "resolved relative to the OPF directory, mimetype member enforced "
    "first/stored per OCF 3.3. The staged books name chapter FILES in "
    "reverse while the spine lists true reading order, so a "
    "directory-order walk scrambles chapters and fails the byte-exact "
    "oracle — the check that actually proves spine handling. XHTML "
    "paragraph text collects via document-order descent (inline "
    "markup keeps its text); missing parts, malformed XML, and "
    "dangling spine idrefs raise per record. Scale: map-side Arrow "
    "kernel over binaryFile, one book per record, like the sibling "
    "document formats.",
)
def pipeline_epub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "epub_files", "epub", _render_epub
    )
    bf = (
        read_blobs(spark, path, "epub")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.epub$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.epub import extract_epub_text

        for b in batches:
            out = {
                "doc_id": [], "n_chapters": [], "n_chars": [],
                "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                chapters = extract_epub_text(bytes(content))
                rebuilt = "".join(p for c in chapters for p in c)
                out["doc_id"].append(int(doc_id))
                out["n_chapters"].append(len(chapters))
                out["n_chars"].append(len(rebuilt))
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_chapters int, n_chars long, text_exact int",
    )
def _render_mbox(doc_id: int, text: str) -> bytes:
    from ...operators.mail import write_mbox, write_message

    charset = "cp1251" if doc_id % 3 == 0 else "utf-8"
    plain = write_message(f"тема {doc_id}", "Отправитель", text,
                          charset=charset)
    multi = write_message(
        f"тема {doc_id}", "Отправитель", text,
        html=f"<p>doc {doc_id}</p>", charset=charset,
    )
    return write_mbox([plain, multi])
@register(
    "pipeline_mail_extract",
    oracle="""
    SELECT doc_id,
      2 AS n_msgs,
      3 AS n_parts,
      CAST(CASE WHEN doc_id % 3 = 0 THEN 'cp1251' ELSE 'utf-8' END
        AS VARCHAR) AS charset,
      1 AS subject_ok,
      1 AS text_exact,
      length(text) AS n_chars
    FROM documents
    """,
    doc="Email-archive text extraction (operators/mail.py, RFC "
    "5322/2045/2046/2047 own parser cross-validated against CPython's "
    "independent email package) — mail archives are a major "
    "real-corpus slice, and their text hides behind exactly the "
    "layers a line-splitter garbles: each document stages as an mbox "
    "shard (From_-delimited with >From unstuffing) holding TWO "
    "messages — a quoted-printable text/plain one and a "
    "multipart/alternative one with preamble/epilogue, a QP text part "
    "and a base64 HTML part — with folded headers, RFC 2047 "
    "B-encoded-word Cyrillic subjects, and the charset parameter "
    "cycling utf-8/cp1251 (where legacy mail text actually lives). "
    "Extraction unfolds headers, decodes encoded-words (adjacent "
    "words join without the whitespace between them), walks boundary "
    "delimiters to the REQUIRED terminator, undoes the transfer "
    "encodings with an own QP codec fuzz-pinned to CPython's quopri, "
    "and applies the declared charset; the oracle demands the exact "
    "subject and byte-exact body text for BOTH messages. Malformed "
    "escapes, missing terminal boundaries, and undecodable charsets "
    "raise per record. Scale: map-side Arrow kernel over binaryFile; "
    "one shard per record, like the WARC path.",
)
def pipeline_mail_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "mbox_files", "mbox", _render_mbox
    )
    bf = (
        read_blobs(spark, path, "mbox")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.mbox$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.mail import parse_message, split_mbox

        for b in batches:
            out = {
                "doc_id": [], "n_msgs": [], "n_parts": [], "charset": [],
                "subject_ok": [], "text_exact": [], "n_chars": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                did = int(doc_id)
                msgs = [parse_message(m) for m in split_mbox(bytes(content))]
                plains = [
                    p for m in msgs for p in m["parts"]
                    if p["media"] == "text/plain"
                ]
                subj_ok = all(
                    m["headers"]["subject"] == f"тема {did}" for m in msgs
                )
                out["doc_id"].append(did)
                out["n_msgs"].append(len(msgs))
                out["n_parts"].append(sum(len(m["parts"]) for m in msgs))
                out["charset"].append(plains[0]["charset"] if plains else "")
                out["subject_ok"].append(1 if subj_ok else 0)
                out["text_exact"].append(
                    1 if plains and all(p["text"] == text for p in plains)
                    else 0
                )
                out["n_chars"].append(
                    len(plains[0]["text"]) if plains else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_msgs int, n_parts int, charset string, "
        "subject_ok int, text_exact int, n_chars long",
    )
def _render_code(doc_id: int, text: str) -> bytes:
    ext = ("py", "js", "c", "go")[doc_id % 4]
    if ext == "py":
        src = (
            "#!/usr/bin/env python3\n# SPDX-License-Identifier: MIT\n"
            f"# {text}\ndef f{doc_id}():\n    return {doc_id}"
        )
    elif ext == "js":
        src = (
            "// SPDX-License-Identifier: Apache-2.0\n"
            f"// {text}\nfunction f{doc_id}() {{ return {doc_id}; }}"
        )
    elif ext == "c":
        src = (
            "/* SPDX-License-Identifier: GPL-3.0-only */\n"
            f"/* {text} */\nint f{doc_id}(void) {{ return {doc_id}; }}"
        )
    else:
        src = (
            "// SPDX-License-Identifier: BSD-3-Clause\n"
            f"// {text}\npackage main\nfunc F{doc_id}() int {{ "
            f"return {doc_id} }}"
        )
    return src.encode("utf-8")
_CODE_CONTENT_SQL = """
  CASE doc_id % 4
    WHEN 0 THEN '#!/usr/bin/env python3' || chr(10)
      || '# SPDX-License-Identifier: MIT' || chr(10)
      || '# ' || text || chr(10)
      || 'def f' || doc_id || '():' || chr(10)
      || '    return ' || doc_id
    WHEN 1 THEN '// SPDX-License-Identifier: Apache-2.0' || chr(10)
      || '// ' || text || chr(10)
      || 'function f' || doc_id || '() {{ return ' || doc_id || '; }}'
    WHEN 2 THEN '/* SPDX-License-Identifier: GPL-3.0-only */' || chr(10)
      || '/* ' || text || ' */' || chr(10)
      || 'int f' || doc_id || '(void) {{ return ' || doc_id || '; }}'
    ELSE '// SPDX-License-Identifier: BSD-3-Clause' || chr(10)
      || '// ' || text || chr(10)
      || 'package main' || chr(10)
      || 'func F' || doc_id || '() int {{ return ' || doc_id || ' }}'
  END
""".replace("{{", "{").replace("}}", "}")
@register(
    "pipeline_code_corpus",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, ({_CODE_CONTENT_SQL}) AS content FROM documents),
    l AS (
      SELECT doc_id, content,
             string_split(content, chr(10)) AS lines FROM c)
    SELECT doc_id,
      CASE
        WHEN starts_with(content, '#!') AND content LIKE '%python%'
          THEN 'python'
        WHEN starts_with(content, '/*') THEN 'c'
        WHEN content LIKE '%' || chr(10) || 'package main' || chr(10) || '%'
          THEN 'go'
        ELSE 'javascript'
      END AS lang,
      regexp_extract(content, 'SPDX-License-Identifier: ([A-Za-z0-9.\\-]+)',
                     1) AS license,
      CAST(len(lines) AS INT) AS n_lines,
      CAST(list_max(list_transform(lines, x -> length(x))) AS INT)
        AS max_line_len,
      CAST((1000 * length(regexp_replace(content, '[^A-Za-z0-9]', '', 'g')))
           // length(content) AS INT) AS alnum_permille,
      CAST(len(list_filter(lines, x ->
           starts_with(x, '#') OR starts_with(x, '//')
           OR starts_with(x, '/*'))) AS INT) AS comment_lines,
      CAST(CASE WHEN list_max(list_transform(lines, x -> length(x))) <= 1000
                 AND (1000 * length(regexp_replace(content,
                      '[^A-Za-z0-9]', '', 'g'))) // length(content) >= 250
                 AND len(lines) >= 3
            THEN 1 ELSE 0 END AS INT) AS keep
    FROM l
    """,
    doc="Code-corpus curation signals (The Stack / StarCoder-style "
    "filters) — source code is the other pretraining modality, and "
    "its curation stack is different from prose: language "
    "identification (shebang + syntax markers, not n-grams), "
    "SPDX-License-Identifier extraction (compliance gating), and the "
    "published quality heuristics (max/mean line length against "
    "autogenerated/minified files, alphanumeric fraction against "
    "binary-in-text blobs, comment-line counting). Each document "
    "stages as a real source file cycling python/js/c/go with "
    "cycling SPDX licenses; the whole signal computation is PURE JVM "
    "— binaryFile -> UTF-8 decode -> split/transform/filter/array_max "
    "higher-order expressions, no Python in the hot path, no joins, "
    "no shuffle (verified map-only plan) — and the oracle rebuilds "
    "the identical file content in SQL and recomputes every signal "
    "with DuckDB's list kernels. Integer permille avoids float hash "
    "noise. Scale: this is the shape of a 100 TB code-corpus filter "
    "pass — one scan, whole-stage codegen end to end, partial "
    "evaluation prunable by any downstream predicate on keep.",
)
def pipeline_code_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "code_files", "src", _render_code
    )
    bf = (
        read_blobs(spark, path, "src")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.src$", 1)
            .cast("long")
            .alias("doc_id"),
            F.decode(F.col("content"), "UTF-8").alias("content"),
        )
    )
    lines = F.split(F.col("content"), "\n")
    max_line = F.array_max(F.transform(lines, F.length))
    alnum = (
        F.lit(1000)
        * F.length(F.regexp_replace("content", "[^A-Za-z0-9]", ""))
    ) / F.length("content")
    alnum_permille = F.floor(alnum).cast("int")
    return bf.select(
        "doc_id",
        F.when(
            F.col("content").startswith("#!")
            & F.col("content").contains("python"),
            F.lit("python"),
        )
        .when(F.col("content").startswith("/*"), F.lit("c"))
        .when(F.col("content").contains("\npackage main\n"), F.lit("go"))
        .otherwise(F.lit("javascript"))
        .alias("lang"),
        F.regexp_extract(
            "content", r"SPDX-License-Identifier: ([A-Za-z0-9.\-]+)", 1
        ).alias("license"),
        F.size(lines).cast("int").alias("n_lines"),
        max_line.cast("int").alias("max_line_len"),
        alnum_permille.alias("alnum_permille"),
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("#")
                | x.startswith("//")
                | x.startswith("/*"),
            )
        ).cast("int").alias("comment_lines"),
        F.when(
            (max_line <= 1000) & (alnum_permille >= 250)
            & (F.size(lines) >= 3),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("int").alias("keep"),
    )
_WINNOW_CONTENT_SQL = _CODE_CONTENT_SQL
_WINNOW_K, _WINNOW_W = 8, 4
@register(
    "code_near_dedup_winnowing",
    oracle=f"""
    WITH code AS (
      SELECT doc_id, ({_WINNOW_CONTENT_SQL}) AS content FROM documents),
    variants AS (
      SELECT doc_id * 2 AS clip, content FROM code
      UNION ALL
      SELECT doc_id * 2 + 1 AS clip,
             content || chr(10) || '// forknote' AS content FROM code),
    normed AS (
      SELECT clip,
             regexp_replace(lower(regexp_replace(content,
               '(?m)^.*SPDX-License-Identifier.*$', '', 'g')),
               '[^a-z0-9]', '', 'g') AS norm
      FROM variants),
    hashes AS (
      SELECT clip, list_transform(
          range(1, length(norm) - {_WINNOW_K} + 2),
          i -> ('0x' || substr(md5(substr(norm, i::INT, {_WINNOW_K})),
                1, 15))::UBIGINT::BIGINT) AS hs
      FROM normed),
    fps AS (
      SELECT clip, list_distinct(list_transform(
          range(1, len(hs) - {_WINNOW_W} + 2),
          s -> list_min(list_slice(hs, s::INT,
               s::INT + {_WINNOW_W - 1})))) AS fp
      FROM hashes),
    ex AS (SELECT clip, unnest(fp) AS f FROM fps),
    counts AS (SELECT clip, len(fp) AS n_fp FROM fps),
    pairs AS (
      SELECT a.clip AS clip_a, b.clip AS clip_b, count(*) AS shared
      FROM ex a JOIN ex b ON a.f = b.f AND a.clip < b.clip
      GROUP BY 1, 2)
    SELECT p.clip_a, p.clip_b, CAST(p.shared AS BIGINT) AS shared,
           CAST(1000 * p.shared // least(x.n_fp, y.n_fp) AS BIGINT)
             AS containment_permille
    FROM pairs p
    JOIN counts x ON x.clip = p.clip_a
    JOIN counts y ON y.clip = p.clip_b
    WHERE 1000 * p.shared // least(x.n_fp, y.n_fp) >= 800
      AND p.shared >= 10
    """,
    doc="Code near-dedup by FULL winnowing (Schleimer/Wilkerson/Aiken "
    "2003, the MOSS fingerprint): the published guarantee-carrying "
    "selection — k-gram (k=8) rolling hashes over license-stripped, "
    "whitespace/punctuation-normalized source, then the MINIMUM hash "
    "of every w=4 window selected, so any match of length k+w-1 or "
    "longer is guaranteed to share a fingerprint (the property "
    "winnowing-lite's single global min lacks). Each code file rides "
    "twice — base and a forked variant with an appended line — and "
    "fingerprint-bucket candidate pairs with containment >= 0.8 "
    "(integer permille, no float hashing) must include every planted "
    "(base, fork) twin plus the corpus's genuine near-dups; the "
    "oracle reruns the ENTIRE pipeline (same md5 hash algebra, same "
    "window mins, same join+threshold) in DuckDB list kernels. "
    "License headers are stripped BEFORE fingerprinting — the "
    "published practice, since boilerplate otherwise links every "
    "same-license file. Scale: fingerprints shuffle, source never "
    "does; the fingerprint self-join is the LSH-bucket shape with "
    "the same degenerate-bucket escape (a boilerplate fingerprint "
    "shared corpus-wide would need the documented bucket cap from "
    "dedup_lsh_bucket_cap).",
)
def code_near_dedup_winnowing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...operators.dedup import md5_long

    path = stage_doc_files(
        spark, sf_dir, "code_files", "src", _render_code
    )
    bf = (
        read_blobs(spark, path, "src")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.src$", 1)
            .cast("long")
            .alias("doc_id"),
            F.decode(F.col("content"), "UTF-8").alias("content"),
        )
    )
    variants = bf.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("doc_id") * 2).alias("clip"),
                    F.col("content").alias("content"),
                ),
                F.struct(
                    (F.col("doc_id") * 2 + 1).alias("clip"),
                    F.concat(
                        F.col("content"), F.lit("\n// forknote")
                    ).alias("content"),
                ),
            )
        ).alias("v")
    ).select("v.clip", "v.content")
    norm = F.regexp_replace(
        F.lower(
            F.regexp_replace(
                F.col("content"),
                r"(?m)^.*SPDX-License-Identifier.*$", "",
            )
        ),
        "[^a-z0-9]", "",
    )
    k, w = _WINNOW_K, _WINNOW_W
    # relational formulation: one ROW per k-gram, hashed once, window
    # minima via a frame min — the lambda formulation (slice over the
    # hash array inside a transform) re-evaluates the whole hash array
    # per window in Catalyst (no loop-invariant hoisting across lambda
    # calls), turning O(n) into O(n^2) per document
    from pyspark.sql.window import Window

    normed = variants.select("clip", norm.alias("norm"))
    n_h = F.length("norm") - (k - 1)
    grams = normed.select(
        "clip",
        F.posexplode(
            F.when(n_h > 0, F.sequence(F.lit(1), n_h))
            .otherwise(F.array().cast("array<int>"))
        ).alias("pos", "i"),
        F.col("norm"),
    ).select(
        "clip", "pos",
        md5_long(F.substring(F.col("norm"), F.col("i"), k)).alias("h"),
        (n_h - (w - 1)).alias("n_w"),
    )
    frame = (
        Window.partitionBy("clip").orderBy("pos").rowsBetween(0, w - 1)
    )
    from ...operators.dedup import materialize_release

    fp_rows = (
        grams.select(
            "clip", "pos", "n_w", F.min("h").over(frame).alias("f")
        )
        .where(F.col("pos") < F.col("n_w"))  # pos is 0-based; starts only
        .select("clip", "f")
        .distinct()
    )
    # the fingerprint stage feeds BOTH self-join sides and both count
    # sides — materialize it once instead of re-running the gram/window
    # pipeline four times from the file scan
    fp_rows = materialize_release(fp_rows)
    counts = fp_rows.groupBy("clip").agg(
        F.count("*").cast("int").alias("n_fp")
    )
    ex = fp_rows
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.clip") < F.col("b.clip")),
        )
        .groupBy(
            F.col("a.clip").alias("clip_a"), F.col("b.clip").alias("clip_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    joined = (
        pairs.join(
            counts.withColumnRenamed("clip", "clip_a")
            .withColumnRenamed("n_fp", "n_fp_a"),
            "clip_a",
        )
        .join(
            counts.withColumnRenamed("clip", "clip_b")
            .withColumnRenamed("n_fp", "n_fp_b"),
            "clip_b",
        )
    )
    cont = F.floor(
        F.lit(1000) * F.col("shared") / F.least("n_fp_a", "n_fp_b")
    ).cast("long")
    return joined.select(
        "clip_a", "clip_b",
        F.col("shared").cast("long").alias("shared"),
        cont.alias("containment_permille"),
    ).where(
        (cont >= 800) & (F.col("shared") >= 10)
    )
def _decode_docx_frame(frame: DataFrame) -> DataFrame:
    def op(batches):
        import re as _re

        import pandas as pd

        from ...operators.ooxml import extract_docx_text

        for b in batches:
            out = {"doc_id": [], "n_paras": [], "n_chars": []}
            for p, content in zip(b["path"], b["content"]):
                paras = extract_docx_text(bytes(content))
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.docx$", p).group(1))
                )
                out["n_paras"].append(len(paras))
                out["n_chars"].append(sum(len(x) for x in paras))
            yield pd.DataFrame(out)

    return frame.mapInPandas(
        op, schema="doc_id long, n_paras int, n_chars long"
    )
@register(
    "stream_docx_ingest",
    oracle=f"""
    SELECT doc_id,
      CAST(greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
        AS INT) AS n_paras,
      length(text) AS n_chars
    FROM documents
    """,
    doc="STREAMING office-document ingestion — the Auto-Loader-shaped "
    "counterpart to pipeline_docx_extract, completing the OOXML "
    "family's operational trio beside docx_ingest_quarantine: the "
    "same staged .docx packages consume through readStream binaryFile "
    "with maxFilesPerTrigger-bounded micro-batches, parse per batch "
    "through the SAME package-walk + run-reassembly kernel, append to "
    "a parquet target through the checkpoint, and the accumulated "
    "target must hash-equal the batch extraction via the same oracle "
    "formulas. The operational shape of a continuously-filling "
    "document bucket at 100 TB.",
)
def stream_docx_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ...session import ensure_session_confs

    ensure_session_confs(spark)
    feed = stage_doc_files(
        spark, sf_dir, "docx_files", "docx", _render_docx
    )
    target = run_dir("docx_stream_target", sf_dir)
    chk = run_dir("docx_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.docx")
        .option("maxFilesPerTrigger", 200)
        .load(feed)
        .select("path", "content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _decode_docx_frame(batch_df).write.mode("append").parquet(target)

    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(target)
def _render_ipynb(doc_id: int, text: str) -> bytes:
    import json

    md_lines = [
        text[i : i + _PDF_LINE] + "\n"
        for i in range(0, len(text), _PDF_LINE)
    ] or ["\n"]
    md_lines[-1] = md_lines[-1][:-1]  # last source line carries no \n
    cells = [{"cell_type": "markdown", "metadata": {}, "source": md_lines}]
    for k in range(1 + doc_id % 3):
        cells.append(
            {
                "cell_type": "code",
                "metadata": {},
                "execution_count": k + 1,
                "source": [f"def f{k}():\n", f"    return {k}\n"],
                "outputs": (
                    [
                        {
                            "output_type": "stream",
                            "name": "stdout",
                            "text": ["transient noise\n"],
                        }
                    ]
                    if doc_id % 2 == 0
                    else []
                ),
            }
        )
    nb = {
        "cells": cells,
        "metadata": {"language_info": {"name": "python"}},
        "nbformat": 4,
        "nbformat_minor": 5,
    }
    return json.dumps(nb, ensure_ascii=False).encode("utf-8")
_IPYNB_SCHEMA = (
    "struct<cells: array<struct<cell_type: string, "
    "source: array<string>, execution_count: int, "
    "outputs: array<struct<output_type: string>>>>, nbformat: int>"
)
@register(
    "pipeline_notebook_extract",
    oracle="""
    SELECT doc_id,
      CAST(2 + doc_id % 3 AS INT) AS n_cells,
      CAST(1 + doc_id % 3 AS INT) AS n_code,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 ELSE 0 END AS INT)
        AS n_outputs,
      CAST(23 * (1 + doc_id % 3) AS BIGINT) AS code_chars,
      1 AS md_exact
    FROM documents
    """,
    doc="Jupyter-notebook extraction (nbformat 4 JSON) — notebooks are "
    "a first-class slice of real code corpora, and the published "
    "curation practice is to keep source and STRIP outputs "
    "(transient, often huge, sometimes sensitive). Each document "
    "stages as a spec-shaped .ipynb (one markdown cell carrying the "
    "document text as a conventional line array — every source line "
    "newline-terminated except the last — plus 1-3 code cells whose "
    "outputs alternate present/absent); the ENTIRE parse is pure JVM: "
    "binaryFile -> UTF-8 decode -> from_json with an explicit schema "
    "-> higher-order filter/transform/aggregate over the cell array — "
    "no Python, no shuffle. Counted outputs prove the strip "
    "accounting; md_exact proves line-array reassembly (concat then "
    "newline removal must recover the text byte-exactly). The oracle "
    "recomputes everything from the staging formulas. A file "
    "from_json cannot parse yields NULL cells -> md_exact=0, loud in "
    "the hash. Scale: the one-scan filter shape, like "
    "pipeline_code_corpus.",
)
def pipeline_notebook_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "ipynb_files", "ipynb", _render_ipynb
    )
    bf = (
        read_blobs(spark, path, "ipynb")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.ipynb$", 1)
            .cast("long")
            .alias("doc_id"),
            F.from_json(
                F.decode(F.col("content"), "UTF-8"), _IPYNB_SCHEMA
            ).alias("nb"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cells = F.col("nb.cells")
    code = F.filter(cells, lambda c: c["cell_type"] == F.lit("code"))
    md = F.filter(cells, lambda c: c["cell_type"] == F.lit("markdown"))
    md_text = F.regexp_replace(
        F.array_join(
            F.flatten(F.transform(md, lambda c: c["source"])), ""
        ),
        "\n", "",
    )
    return (
        bf.join(docs, "doc_id")
        .select(
            "doc_id",
            F.size(cells).cast("int").alias("n_cells"),
            F.size(code).cast("int").alias("n_code"),
            F.aggregate(
                F.transform(code, lambda c: F.size(c["outputs"])),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("int").alias("n_outputs"),
            F.aggregate(
                F.transform(
                    code,
                    lambda c: F.length(F.array_join(c["source"], "")),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("long").alias("code_chars"),
            F.when(md_text == F.col("text"), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("md_exact"),
        )
    )
def rep_pattern_rx(pat: str) -> str:
    """Compile an RFC 9309 §2.2.3 path pattern to an anchored regex
    (valid for both Spark's Java regex and DuckDB's RE2): '*' matches
    any octet sequence including empty, a TRAILING '$' anchors the
    pattern at the path's end, a mid-pattern '$' is a literal octet,
    and every other octet is literal."""
    anchored = pat.endswith("$")
    core = pat[:-1] if anchored else pat
    rx = "^" + ".*".join(re.escape(seg) for seg in core.split("*"))
    return rx + ("$" if anchored else "")


# ----------------------------------------------- OpenDocument (.odt/.ods)

_ODF_PARA = 41  # chars per staged .odt paragraph (odd: split phases vary)


def _render_odf(doc_id: int, text: str) -> list:
    """One .odt + one .ods per document (the sidecar-pair staging
    shape).  The .odt splits the text into 41-char paragraphs with
    every 4th a text:h heading, whitespace ODF-encoded and runs split
    across nested spans; the .ods stages TYPED cells whose float
    display strings LIE (the value lives in office:value) plus a
    two-wide number-columns-repeated empty run."""
    from ...operators.odf import write_odt, write_ods

    paras = [text[i : i + _ODF_PARA] for i in range(0, len(text), _ODF_PARA)]
    word1 = text.split(" ")[0] if text else ""
    rows = [
        ["id", float(doc_id), doc_id % 2 == 0],
        [word1, None, None, float(len(text))],
    ]
    return [(f"{doc_id}.odt", write_odt(paras)), (f"{doc_id}.ods", write_ods(rows))]


@register(
    "pipeline_odf_extract",
    oracle=f"""
    SELECT doc_id,
           CAST((length(text) + {_ODF_PARA - 1}) // {_ODF_PARA} AS INT)
             AS n_paras,
           CAST(((length(text) + {_ODF_PARA - 1}) // {_ODF_PARA} + 3)
                // 4 AS INT) AS n_headings,
           1 AS text_exact,
           round(doc_id + length(text), 1) AS num_sum,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
             AS bool_true,
           CAST(2 + length(split_part(text, ' ', 1)) AS INT) AS str_mass
    FROM documents
    """,
    doc="OpenDocument extraction (operators/odf.py, OASIS ODF 1.2 / "
    "ISO 26300 over the engine's own ZIP reader — the r13 verdict's "
    "#4 task, completing the office story: OOXML + legacy CFB + RTF + "
    "ODF): each document stages a spec-valid .odt (stored-first "
    "mimetype per ODF Part 3 §3.3, manifest, paragraphs split across "
    "nested text:span runs with whitespace ENCODED as text:s/"
    "text:tab/text:line-break elements — a reader that only joins "
    "text nodes collapses it) and a .ods whose cells are TYPED "
    "through attributes: float cells carry a deliberately LYING "
    "display string with the value only in office:value, booleans in "
    "office:boolean-value, and a table:number-columns-repeated empty "
    "run that shifts later columns if ignored. The oracle recomputes "
    "paragraph/heading counts, exact text reassembly, the float sum, "
    "boolean truth, and string character mass from the base table. "
    "Scale: one Arrow kernel over binaryFile dispatching on suffix, "
    "map-only until the sidecar-pair join on doc_id.",
)
def pipeline_odf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "odf_files", None, _render_odf)
    bf = (
        read_blobs(spark, path, "od[ts]")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.od[ts]$", 1)
            .cast("long")
            .alias("doc_id"),
            F.regexp_extract(F.col("path"), r"\.(od[ts])$", 1)
            .alias("kind"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.odf import extract_ods_cells, extract_odt_text

        for b in batches:
            out = {"doc_id": [], "kind": [], "n_paras": [],
                   "n_headings": [], "text_exact": [], "num_sum": [],
                   "bool_true": [], "str_mass": []}
            for doc_id, kind, content, text in zip(
                b["doc_id"], b["kind"], b["content"], b["text"]
            ):
                out["doc_id"].append(int(doc_id))
                out["kind"].append(kind)
                if kind == "odt":
                    paras = extract_odt_text(bytes(content))
                    got = "".join(t for _k, _l, t in paras)
                    out["n_paras"].append(len(paras))
                    out["n_headings"].append(
                        sum(1 for k, _l, _t in paras if k == "h")
                    )
                    out["text_exact"].append(1 if got == text else 0)
                    out["num_sum"].append(None)
                    out["bool_true"].append(None)
                    out["str_mass"].append(None)
                else:
                    rows = extract_ods_cells(bytes(content))
                    nums = [v for row in rows for v in row
                            if isinstance(v, float)]
                    bools = [v for row in rows for v in row
                             if isinstance(v, bool)]
                    strs = [v for row in rows for v in row
                            if isinstance(v, str)]
                    out["n_paras"].append(None)
                    out["n_headings"].append(None)
                    out["text_exact"].append(None)
                    out["num_sum"].append(round(sum(nums), 1))
                    out["bool_true"].append(
                        sum(1 for v in bools if v)
                    )
                    out["str_mass"].append(sum(len(s) for s in strs))
            yield pd.DataFrame(out)

    parsed = joined.mapInPandas(
        op,
        schema="doc_id long, kind string, n_paras int, n_headings int, "
        "text_exact int, num_sum double, bool_true int, str_mass int",
    )
    odt = parsed.where(F.col("kind") == "odt").select(
        "doc_id", "n_paras", "n_headings", "text_exact"
    )
    ods = parsed.where(F.col("kind") == "ods").select(
        "doc_id", "num_sum", "bool_true", "str_mass"
    )
    return odt.join(ods, "doc_id")

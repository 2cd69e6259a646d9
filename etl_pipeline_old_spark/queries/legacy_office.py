"""Legacy binary Office ingestion (OLE2/CFB: .doc and .xls) — the
pre-2007 half of the document-format story.  Any enterprise or crawl
corpus older than ~2010 is full of compound files; the OOXML family
(queries/formats/) covers 2007+, this module covers what came before
through operators/cfb.py ([MS-CFB] container, [MS-DOC] piece table,
BIFF8 cells — own pure-stdlib codec, spec-pinned in tests/test_cfb.py).

Verification shape mirrors the document families: every .doc stages
with a MULTI-PIECE piece table mixing compressed and UTF-16 pieces
(the per-doc Cyrillic suffix forces at least one Unicode piece, so a
reader that assumes one piece or one encoding fails), the table stream
home alternates 0Table/1Table by doc_id, every third file is padded
past the 4096 mini-stream cutoff to force the regular-FAT path, and
the oracle demands exact text recovery plus the closed-form piece
count.  The .xls stages both SST storage forms per file.  The
quarantine query tears every 50th container and the kernel must keep
the damage to one record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.files import BINARYFILE_SCHEMA, read_blobs, stage_doc_files
from ..workdir import run_dir

_DOC_PIECE_CHARS = 17
_DOC_TORN_MOD = 50


def _doc_staged_text(doc_id: int, text: str) -> str:
    # the Cyrillic suffix guarantees >= 1 UTF-16 piece per file
    return f"{text} Ж{doc_id}"


def _render_doc(doc_id: int, text: str) -> bytes:
    from ..operators.cfb import write_doc

    return write_doc(
        _doc_staged_text(doc_id, text),
        which_tbl=doc_id % 2,
        piece_chars=_DOC_PIECE_CHARS,
        pad_to_regular=doc_id % 3 == 0,
    )


# the staged text is text || ' Ж' || doc_id; the piece table covers it
# plus the final paragraph mark in 17-char pieces
_DOC_LEN_SQL = "(length(text) + 2 + length(doc_id::VARCHAR))"


@register(
    "pipeline_doc_legacy_extract",
    oracle=f"""
    SELECT doc_id,
           CAST(({_DOC_LEN_SQL} + 1 + {_DOC_PIECE_CHARS - 1})
                // {_DOC_PIECE_CHARS} AS INT) AS n_pieces,
           CAST({_DOC_LEN_SQL} AS INT) AS n_chars,
           1 AS text_exact
    FROM documents
    """,
    doc="Word 97-2003 .doc text extraction (operators/cfb.py, [MS-CFB] "
    "+ [MS-DOC]) — the pre-2007 document class every enterprise corpus "
    "carries and the r12 verdict's #2 gap: each document stages as a "
    "structurally valid compound file (FAT/miniFAT sector chains, "
    "directory BST, 512-byte v3 sectors) whose WordDocument stream "
    "holds a Word-97 FIB and MULTI-PIECE text reached through the "
    "Clx/PlcPcd piece table in the 0Table/1Table stream (home "
    "alternating by doc_id — the fWhichTblStm bit must be read, not "
    "assumed). Pieces alternate the compressed byte form ([MS-DOC]'s "
    "literal table, NOT cp1252 — 0x80 stays U+0080) and UTF-16, and "
    "the per-doc Cyrillic suffix forces at least one Unicode piece; "
    "every third file is padded past the 4096 mini cutoff so both "
    "FAT routings decode. The oracle demands exact text recovery plus "
    "the closed-form piece count, so a piece-walk, encoding, or "
    "sector-chain bug cannot hide. Scale: the standard binaryFile + "
    "Arrow-kernel shape, map-side only, parse cost linear in file "
    "size.",
)
def pipeline_doc_legacy_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    path = stage_doc_files(spark, sf_dir, "doc_files", "doc", _render_doc)
    bf = (
        read_blobs(spark, path, "doc")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.doc$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ..operators.cfb import extract_doc_text

        for b in batches:
            out = {"doc_id": [], "n_pieces": [], "n_chars": [],
                   "text_exact": []}
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                got, n_pieces = extract_doc_text(bytes(content))
                out["doc_id"].append(int(doc_id))
                out["n_pieces"].append(n_pieces)
                out["n_chars"].append(len(got))
                out["text_exact"].append(
                    1 if got == _doc_staged_text(int(doc_id), text) else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op, schema="doc_id long, n_pieces int, n_chars int, text_exact int"
    )


def _render_xls(doc_id: int, text: str) -> bytes:
    from ..operators.cfb import write_xls

    words = text.split(" ")[:3]
    return write_xls(
        words + [f"я{doc_id}"],
        # RK-int, RK-x100, RK (int or x100 by parity), full NUMBER
        [doc_id % 7, (doc_id * 100 + 7) / 100, doc_id * 0.5,
         doc_id + 0.123456789],
    )


@register(
    "pipeline_xls_legacy_cells",
    oracle="""
    SELECT doc_id,
           4 AS n_labels,
           4 AS n_numbers,
           3 AS n_rk,
           round(doc_id % 7 + (doc_id * 100 + 7) / 100 + doc_id * 0.5
                 + doc_id + 0.123456789, 2) AS sum_numbers,
           CAST(length(split_part(text, ' ', 1))
              + length(split_part(text, ' ', 2))
              + length(split_part(text, ' ', 3))
              + 1 + length(doc_id::VARCHAR) AS INT) AS char_mass
    FROM documents
    """,
    doc="Excel 97-2003 .xls typed-cell extraction (operators/cfb.py, "
    "BIFF8 over [MS-CFB]) — the legacy twin of multimodal_xlsx_cells: "
    "each document stages a Workbook stream with a shared-string table "
    "holding the text's first three words (compressed latin-1 form) "
    "plus a per-doc Cyrillic marker (UTF-16 form — BOTH fHighByte "
    "storage layouts decode per file), LABELSST cells resolving "
    "through the SST by index, and numeric cells in BOTH BIFF8 forms "
    "— three packed RK records per file (RkNumber int, x100, and the "
    "parity-dependent third; the form real writers emit for most "
    "cells) beside one full 8-byte NUMBER double that RkNumber cannot "
    "represent. The oracle recomputes label/number/RK counts, "
    "the numeric sum, and the recovered string character mass from the "
    "base table, so an SST walk, index-resolution, or record-framing "
    "bug flips the hash. CONTINUE-split SSTs decode natively — "
    "pipeline_xls_sst_continue is the dedicated sentinel. Same "
    "map-only Arrow-kernel scale shape as every media family.",
)
def pipeline_xls_legacy_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "xls_files", "xls", _render_xls)
    bf = (
        read_blobs(spark, path, "xls")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.xls$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ..operators.cfb import extract_xls_cells

        for b in batches:
            out = {"doc_id": [], "n_labels": [], "n_numbers": [],
                   "n_rk": [], "sum_numbers": [], "char_mass": []}
            for doc_id, content in zip(b["doc_id"], b["content"]):
                labels, numbers, n_rk = extract_xls_cells(bytes(content))
                out["doc_id"].append(int(doc_id))
                out["n_labels"].append(len(labels))
                out["n_numbers"].append(len(numbers))
                out["n_rk"].append(n_rk)
                out["sum_numbers"].append(round(sum(numbers), 2))
                out["char_mass"].append(sum(len(s) for s in labels))
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, n_labels int, n_numbers int, n_rk int, "
        "sum_numbers double, char_mass int",
    )


def _render_doc_maybe_torn(doc_id: int, text: str) -> bytes:
    blob = _render_doc(doc_id, text)
    if doc_id % _DOC_TORN_MOD == 0:
        # truncation mid-body: the header survives, sector chains point
        # past the end — the torn-upload shape object stores serve
        return blob[: max(512, int(len(blob) * 0.6))]
    return blob


@register(
    "doc_legacy_quarantine",
    oracle=f"""
    SELECT doc_id,
           (doc_id % {_DOC_TORN_MOD} != 0) AS ok,
           CASE WHEN doc_id % {_DOC_TORN_MOD} != 0
                THEN CAST({_DOC_LEN_SQL} AS INT) ELSE NULL END AS n_chars
    FROM documents
    """,
    doc="Per-record fault isolation on torn compound files — every "
    f"{_DOC_TORN_MOD}th staged .doc is truncated to 60% (header "
    "intact, FAT chains running past the end, the torn-upload shape), "
    "and the kernel must keep the damage to one record: the codec's "
    "documented ValueError classes are caught per file, healthy "
    "documents still recover their exact text (n_chars value-checked "
    "by the oracle), corrupt ones surface as ok=false rows instead of "
    "failed tasks. The operational sibling of docx_ingest_quarantine "
    "and pdf_ingest_quarantine, completing the house trio for the "
    "legacy-office family.",
)
def doc_legacy_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "doc_torn", "doc", _render_doc_maybe_torn
    )
    bf = (
        read_blobs(spark, path, "doc")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.doc$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ..operators.cfb import extract_doc_text

        for b in batches:
            out = {"doc_id": [], "ok": [], "n_chars": []}
            for doc_id, content in zip(b["doc_id"], b["content"]):
                try:
                    got, _ = extract_doc_text(bytes(content))
                    out["ok"].append(True)
                    out["n_chars"].append(len(got))
                except (ValueError, NotImplementedError):
                    out["ok"].append(False)
                    out["n_chars"].append(None)
                out["doc_id"].append(int(doc_id))
            yield pd.DataFrame(out)

    return bf.mapInPandas(op, schema="doc_id long, ok boolean, n_chars int")


_PPT_PARA = 40  # chars per staged paragraph


def _render_ppt_legacy(doc_id: int, text: str) -> bytes:
    from ..operators.cfb import write_ppt

    paras = [text[i : i + _PPT_PARA] for i in range(0, len(text), _PPT_PARA)]
    # two slides of body paragraphs + a closing Cyrillic marker slide
    # that forces the UTF-16 TextCharsAtom form
    mid = (len(paras) + 1) // 2
    return write_ppt([paras[:mid], paras[mid:], [f"Ж{doc_id}"]])


@register(
    "pipeline_ppt_legacy_extract",
    oracle=f"""
    SELECT doc_id,
           CAST((length(text) + {_PPT_PARA - 1}) // {_PPT_PARA} + 1 AS INT)
             AS n_paras,
           length(text) AS n_chars,
           1 AS text_exact,
           1 AS marker_exact
    FROM documents
    """,
    doc="PowerPoint 97-2003 .ppt text extraction (operators/cfb.py, "
    "[MS-PPT] over [MS-CFB]) — the third leg of the legacy Office "
    "trio the r12 verdict named: each document stages a deck whose "
    "PowerPoint Document stream is a real record tree "
    "(DocumentContainer -> SlideListWithTextContainer -> text atoms, "
    "8-byte recVer/recType/recLen headers with containers at recVer "
    "0xF), body paragraphs riding as 8-bit TextBytesAtom records and "
    "a per-doc Cyrillic marker slide as UTF-16 TextCharsAtom — both "
    "atom forms decode per file. The oracle demands exact "
    "reassembled-text recovery plus the closed-form paragraph count; "
    "a record-walk, container-recursion, or atom-decode bug flips a "
    "value. Torn records (recLen past scope) raise per record "
    "(unit-tested). Same map-only Arrow-kernel shape as the .doc "
    "sibling.",
)
def pipeline_ppt_legacy_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..catalog import load_table

    path = stage_doc_files(
        spark, sf_dir, "ppt_files", "ppt", _render_ppt_legacy
    )
    bf = (
        read_blobs(spark, path, "ppt")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.ppt$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ..operators.cfb import extract_ppt_text

        for b in batches:
            out = {"doc_id": [], "n_paras": [], "n_chars": [],
                   "text_exact": [], "marker_exact": []}
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                paras = extract_ppt_text(bytes(content))
                body = "".join(paras[:-1])
                out["doc_id"].append(int(doc_id))
                out["n_paras"].append(len(paras))
                out["n_chars"].append(len(body))
                out["text_exact"].append(1 if body == text else 0)
                out["marker_exact"].append(
                    1 if paras and paras[-1] == f"Ж{int(doc_id)}" else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_paras int, n_chars long, text_exact int, "
        "marker_exact int",
    )


def _render_msg(doc_id: int, text: str) -> bytes:
    import hashlib

    from ..operators.cfb import write_msg

    recipients = [(f"Инженер {k}", f"user{doc_id}.{k}@example.com")
                  for k in range(1 + doc_id % 2)]
    attachments = []
    if doc_id % 3 == 0:
        attachments.append(
            (f"model{doc_id}.bin",
             hashlib.md5(f"att:{doc_id}".encode()).digest())
        )
    return write_msg(
        f"doc {doc_id}", text, f"sender{doc_id}@example.com",
        recipients, attachments,
    )


@register(
    "pipeline_msg_extract",
    oracle="""
    SELECT doc_id,
           1 AS subject_exact,
           1 AS body_exact,
           1 AS sender_exact,
           CAST(1 + doc_id % 2 AS INT) AS n_recipients,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
             AS n_attachments,
           CASE WHEN doc_id % 3 = 0 THEN 16 ELSE NULL END AS attach_bytes
    FROM documents
    """,
    doc="Outlook .msg extraction (operators/cfb.py, [MS-OXMSG] over "
    "[MS-CFB]) — enterprise mail's other on-disk shape beside mbox, "
    "and the consumer that makes the compound-file reader's NESTED "
    "storages load-bearing: each message stages top-level "
    "__substg1.0_PPPPTTTT property streams (subject/body/sender, "
    "MIXING the 8-bit 001E and UTF-16 001F forms by content so the "
    "type suffix must be dispatched, not assumed) plus one STORAGE "
    "per recipient and attachment — recipient display names are "
    "Cyrillic (UTF-16 form) with ASCII addresses (8-bit form) inside "
    "ONE storage. The oracle demands exact subject/body/sender "
    "recovery and recomputes recipient/attachment counts and the "
    "attachment byte size from the staging formulas. A message "
    "missing its body property raises (silent-empty mail is how "
    "extraction bugs hide). Same map-only Arrow-kernel shape as the "
    "rest of the family.",
)
def pipeline_msg_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    path = stage_doc_files(spark, sf_dir, "msg_files", "msg", _render_msg)
    bf = (
        read_blobs(spark, path, "msg")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.msg$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ..operators.cfb import extract_msg

        for b in batches:
            out = {"doc_id": [], "subject_exact": [], "body_exact": [],
                   "sender_exact": [], "n_recipients": [],
                   "n_attachments": [], "attach_bytes": []}
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                did = int(doc_id)
                m = extract_msg(bytes(content))
                out["doc_id"].append(did)
                out["subject_exact"].append(
                    1 if m["subject"] == f"doc {did}" else 0
                )
                out["body_exact"].append(1 if m["body"] == text else 0)
                out["sender_exact"].append(
                    1 if m["sender"] == f"sender{did}@example.com" else 0
                )
                want_recips = [
                    (f"Инженер {k}", f"user{did}.{k}@example.com")
                    for k in range(1 + did % 2)
                ]
                out["n_recipients"].append(
                    len(m["recipients"])
                    if m["recipients"] == want_recips else -1
                )
                out["n_attachments"].append(len(m["attachments"]))
                out["attach_bytes"].append(
                    m["attachments"][0][1] if m["attachments"] else None
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, subject_exact int, body_exact int, "
        "sender_exact int, n_recipients int, n_attachments int, "
        "attach_bytes int",
    )


def _decode_doc_frame(frame: DataFrame) -> DataFrame:
    """Shard blobs -> extracted legacy-doc rows; ONE definition shared
    by the batch quarantine-free path and the streaming ingest."""

    def op(batches):
        import re as _re

        import pandas as pd

        from ..operators.cfb import extract_doc_text

        for b in batches:
            out = {"doc_id": [], "n_pieces": [], "n_chars": []}
            for p, content in zip(b["path"], b["content"]):
                got, n_pieces = extract_doc_text(bytes(content))
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.doc$", p).group(1))
                )
                out["n_pieces"].append(n_pieces)
                out["n_chars"].append(len(got))
            yield pd.DataFrame(out)

    return frame.mapInPandas(
        op, schema="doc_id long, n_pieces int, n_chars long"
    )


@register(
    "stream_doc_legacy_ingest",
    oracle=f"""
    SELECT doc_id,
           CAST(({_DOC_LEN_SQL} + 1 + {_DOC_PIECE_CHARS - 1})
                // {_DOC_PIECE_CHARS} AS INT) AS n_pieces,
           CAST({_DOC_LEN_SQL} AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="STREAMING legacy-office ingestion — the Auto-Loader-shaped "
    "counterpart to pipeline_doc_legacy_extract, completing the CFB "
    "family's operational trio beside doc_legacy_quarantine: the same "
    "staged .doc compound files consume through readStream binaryFile "
    "with maxFilesPerTrigger-bounded micro-batches, parse per batch "
    "through the SAME piece-table kernel, append to a parquet target "
    "through the checkpoint, and the accumulated target must "
    "hash-equal the batch extraction via the same oracle formulas. "
    "The operational shape of a continuously-filling share of legacy "
    "documents at 100 TB.",
)
def stream_doc_legacy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    feed = stage_doc_files(spark, sf_dir, "doc_files", "doc", _render_doc)
    target = run_dir("doc_legacy_stream_target", sf_dir)
    chk = run_dir("doc_legacy_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.doc")
        .option("maxFilesPerTrigger", 200)
        .load(feed)
        .select("path", "content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _decode_doc_frame(batch_df).write.mode("append").parquet(target)

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


# ------------------------------------------- CONTINUE-split SST .xls

_SST_CHUNK = 19       # chars per SST string (odd, so split phases vary)
_SST_MAX_BODY = 32    # forces >= 2 CONTINUE records per staged file
_XLS_TORN_MOD = 50


def _render_xls_sst_continue(doc_id: int, text: str) -> bytes:
    """A .xls whose shared-string table ALWAYS spans CONTINUE records:
    the staged text (with the Cyrillic marker forcing UTF-16 fragments
    and per-fragment encoding switches) splits into 19-char SST
    strings written under a 32-byte record cap, so headers land at
    every phase relative to the record boundaries.  Every 50th file
    then drops its final CONTINUE record — intact container, torn
    record chain: the quarantine shape a mid-upload loss produces."""
    import struct as _struct

    from ..operators.cfb import read_cfb, write_cfb, write_xls

    staged = _doc_staged_text(doc_id, text)
    chunks = [
        staged[i : i + _SST_CHUNK] for i in range(0, len(staged), _SST_CHUNK)
    ]
    blob = write_xls(chunks, [], sst_max_body=_SST_MAX_BODY,
                     rich_every=5)
    if doc_id % _XLS_TORN_MOD != 0:
        return blob
    wb = read_cfb(blob)["Workbook"]
    p, last = 0, None
    while p + 4 <= len(wb):
        rid, ln = _struct.unpack_from("<HH", wb, p)
        if rid == 0x003C:
            last = (p, p + 4 + ln)
        p += 4 + ln
    assert last is not None, "staged SST must span CONTINUE records"
    return write_cfb({"Workbook": wb[: last[0]] + wb[last[1] :]})


@register(
    "pipeline_xls_sst_continue",
    oracle=f"""
    SELECT doc_id,
           (doc_id % {_XLS_TORN_MOD} != 0) AS ok,
           CASE WHEN doc_id % {_XLS_TORN_MOD} != 0
                THEN CAST(({_DOC_LEN_SQL} + {_SST_CHUNK - 1})
                          // {_SST_CHUNK} AS INT)
                ELSE NULL END AS n_labels,
           CASE WHEN doc_id % {_XLS_TORN_MOD} != 0
                THEN CAST({_DOC_LEN_SQL} AS INT)
                ELSE NULL END AS char_mass,
           CASE WHEN doc_id % {_XLS_TORN_MOD} != 0
                THEN 1 ELSE NULL END AS text_exact,
           CASE WHEN doc_id % {_XLS_TORN_MOD} != 0
                THEN 1 ELSE NULL END AS multi_continue
    FROM documents
    """,
    doc="BIFF8 CONTINUE-split shared-string tables — the r13 verdict's "
    "#1 task and the shape every production-sized .xls ships "
    "(operators/cfb.py, [MS-XLS] 2.4.58/2.5.293): each document's SST "
    "is forced across >= 2 CONTINUE records (verified in-kernel by "
    "counting 0x003C records — multi_continue must hold for every "
    "healthy file), string headers never split, character data splits "
    "at character boundaries at every phase (19-char strings under a "
    "32-byte cap), and each continuing fragment re-emits its own "
    "fHighByte flag with the encoding RE-CHOSEN per fragment — the "
    "Cyrillic marker makes single strings mix compressed and UTF-16 "
    "storage across fragments, which a reader that latches the "
    "header's flag decodes as mojibake; every 5th string carries "
    "fRichSt FormatRun data that must be skipped per its header "
    "count (non-character continuation — no re-emitted flags byte). "
    "The oracle recomputes label "
    "count and character mass closed-form and demands exact text "
    "reassembly. Every 50th file drops its final CONTINUE record "
    "(intact container, torn record chain): the kernel must keep that "
    "loss to one record via the codec's documented ValueError class. "
    "Scale: map-only Arrow kernel over binaryFile, the standard "
    "media-sentinel shape.",
)
def pipeline_xls_sst_continue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..catalog import load_table

    path = stage_doc_files(
        spark, sf_dir, "xls_sst_cont", "xls", _render_xls_sst_continue
    )
    bf = (
        read_blobs(spark, path, "xls")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.xls$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import struct as _struct

        import pandas as pd

        from ..operators.cfb import extract_xls_cells, read_cfb

        for b in batches:
            out = {"doc_id": [], "ok": [], "n_labels": [],
                   "char_mass": [], "text_exact": [], "multi_continue": []}
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                out["doc_id"].append(int(doc_id))
                try:
                    labels, _numbers, _n_rk = extract_xls_cells(
                        bytes(content)
                    )
                    wb = read_cfb(bytes(content))["Workbook"]
                    p = n_cont = 0
                    while p + 4 <= len(wb):
                        rid, ln = _struct.unpack_from("<HH", wb, p)
                        n_cont += rid == 0x003C
                        p += 4 + ln
                    got = "".join(labels)
                    want = _doc_staged_text(int(doc_id), text)
                    out["ok"].append(True)
                    out["n_labels"].append(len(labels))
                    out["char_mass"].append(len(got))
                    out["text_exact"].append(1 if got == want else 0)
                    out["multi_continue"].append(1 if n_cont >= 2 else 0)
                except (ValueError, NotImplementedError):
                    out["ok"].append(False)
                    out["n_labels"].append(None)
                    out["char_mass"].append(None)
                    out["text_exact"].append(None)
                    out["multi_continue"].append(None)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, ok boolean, n_labels int, char_mass int, "
        "text_exact int, multi_continue int",
    )

"""Caption tracks and video-text pair corpora — one family of the file-
format sources (see the package docstring)."""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...registry import register
from ...sources.files import BINARYFILE_SCHEMA, read_blobs, stage_doc_files, stage_shard_files
from ...workdir import run_dir, write_atomic

from .formats_containers import (  # noqa: F401 — shared helpers
    _PDF_LINE,
    _PDF_PAGE_LINES,
    _render_pdf,
)

from .formats_media import (
    _CORRUPT_MOD,
    _FRAME,
    _WAV_N,
    _Y4M_FRAMES,
    _render_y4m,
    _wav_sample_sql,
    _y4m_pixel_sql,
    multimodal_audio_features,
)

from .formats_pdf import (  # noqa: F401 — shared helpers
    _DOC_MIN_WORDS,
    _doc_capstone_oracle,
    _render_webm,
)


@register(
    "multimodal_webm_probe",
    oracle="""
    WITH b AS (SELECT doc_id, doc_id % 3 AS m FROM documents)
    SELECT doc_id,
      CASE m WHEN 1 THEN 'matroska' ELSE 'webm' END AS doc_type,
      CAST(CASE m WHEN 0 THEN 1000 * (1 + doc_id % 10)
                  WHEN 1 THEN 2500 ELSE 750 END AS BIGINT) AS duration_ms,
      CAST(CASE m WHEN 2 THEN 0 ELSE 1 END AS INT) AS n_video,
      CAST(CASE m WHEN 1 THEN 0 ELSE 1 END AS INT) AS n_audio,
      CASE m WHEN 0 THEN 'V_VP9' WHEN 1 THEN 'V_AV1' ELSE '' END
        AS video_codec,
      CAST(CASE m WHEN 0 THEN 1280 WHEN 1 THEN 1920 ELSE 0 END AS INT)
        AS width,
      CAST(CASE m WHEN 0 THEN 720 + doc_id % 16
                  WHEN 1 THEN 800 ELSE 0 END AS INT) AS height,
      CASE m WHEN 1 THEN '' ELSE 'A_OPUS' END AS audio_codec,
      CAST(CASE m WHEN 1 THEN 0 ELSE 48000 END AS INT) AS rate,
      CAST(CASE m WHEN 0 THEN 1 + doc_id % 2
                  WHEN 2 THEN 2 ELSE 0 END AS INT) AS channels,
      CAST(CASE m WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 3 END AS INT)
        AS n_clusters,
      CAST(CASE m WHEN 0 THEN 5 + doc_id % 3
                  WHEN 1 THEN 1 + doc_id % 4 ELSE 3 END AS INT) AS n_blocks
    FROM b
    """,
    doc="WebM/Matroska (EBML) container probe — completes the container "
    "trio next to ISO BMFF and Ogg (operators/ebml.py, RFC 8794 + the "
    "public Matroska element registry): variable-length ID/size vints "
    "with the all-ones UNKNOWN-SIZE Segment form live muxers emit, "
    "DocType/version, TimestampScale-corrected duration, per-track "
    "type/codec/dims/rate/channels, cluster and SimpleBlock counts. "
    "Staged surfaces cycle VP9+Opus webm (per-doc heights, channels, "
    "cluster sizes, durations), an AV1 matroska written with the "
    "unknown-size Segment, and an audio-only webm; the oracle "
    "recomputes every column from the staging formulas. Codec payload "
    "decode (VP9/AV1/Opus) stays the documented external-decoder seam. "
    "Scale: binaryFile ingest; the probe is a header walk whose cost "
    "tracks element counts, not payload bytes, and truncation raises "
    "per record inside the quarantine pattern.",
)
def multimodal_webm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "webm_files", "webm", _render_webm)
    bf = (
        read_blobs(spark, path, "webm")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.webm$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.ebml import probe_webm

        cols = [
            "doc_type", "duration_ms", "n_video", "n_audio", "video_codec",
            "width", "height", "audio_codec", "rate", "channels",
            "n_clusters", "n_blocks",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                p = probe_webm(bytes(content))
                out["doc_id"].append(int(doc_id))
                for c in cols:
                    out[c].append(p[c])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, doc_type string, duration_ms long, "
        "n_video int, n_audio int, video_codec string, width int, "
        "height int, audio_codec string, rate int, channels int, "
        "n_clusters int, n_blocks int",
    )
def _render_vtt(doc_id: int, text: str, lang: str | None = None) -> bytes:
    from ...operators.vtt import write_vtt

    n = 2 + doc_id % 5
    off = (doc_id % 7) * 10
    k = doc_id % 7
    cues = [
        (i * 2000 + off, i * 2000 + off + 1500, f"cue-{i}-{k}")
        for i in range(n)
    ]
    if doc_id % 4 == 0:  # overlapping tail cue: merge must not double-count
        last_end = (n - 1) * 2000 + off + 1500
        cues.append((last_end - 500, last_end + 1000, "tail"))
    meta = {"Kind": "captions", "Language": lang} if lang else None
    return write_vtt(cues, meta).encode("utf-8")
def _render_srt(doc_id: int, text: str) -> bytes:
    # the same cue-structure formulas as _render_vtt, expressed in SRT
    # (comma-millis timing, numbered blocks, no signature) so both
    # sidecar formats share one oracle shape; every 3rd file leads with
    # the UTF-8 BOM SubRip's Windows heritage makes common
    from ...operators.srt import write_srt

    n = 2 + doc_id % 5
    off = (doc_id % 7) * 10
    k = doc_id % 7
    cues = [
        (i * 2000 + off, i * 2000 + off + 1500, f"cue-{i}-{k}")
        for i in range(n)
    ]
    if doc_id % 4 == 0:  # overlapping tail cue: merge must not double-count
        last_end = (n - 1) * 2000 + off + 1500
        cues.append((last_end - 500, last_end + 1000, "tail"))
    doc = write_srt(cues)
    if doc_id % 3 == 0:
        doc = "﻿" + doc
    return doc.encode("utf-8")
@register(
    "multimodal_srt_captions",
    oracle="""
    WITH b AS (
      SELECT doc_id, 2 + doc_id % 5 AS n, (doc_id % 7) * 10 AS off,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS ov
      FROM documents)
    SELECT doc_id,
      CAST(n + ov AS INT) AS n_cues,
      CAST(n * 1500 + ov * 1000 AS BIGINT) AS covered_ms,
      CAST(off AS BIGINT) AS first_start_ms,
      CAST((n - 1) * 2000 + off + 1500 + ov * 1000 AS BIGINT) AS last_end_ms,
      CAST(7 * n + ov * 4 AS BIGINT) AS n_chars
    FROM b
    """,
    doc="SRT caption-sidecar ingest (r10 verdict #4) — SubRip OUTNUMBERS "
    "WebVTT in real crawled video corpora (it is the ripping-tool and "
    "community interchange format; VTT is web delivery), so a coverage "
    "gate reading only .vtt drops most of a corpus. operators/srt.py "
    "parses the numbered blocks / comma-millis timing / blank-line "
    "separation structure, consumes the UTF-8 BOM every 3rd staged file "
    "carries, enforces ascending numeric cue indices, and shares the "
    "overlap-MERGED interval stats with the VTT family (vtt.cue_stats) "
    "— the staged corpus reuses the exact VTT cue formulas, so the "
    "oracle recomputes every column and a comma/dot timing confusion "
    "or double-counted overlap fails the hash. Malformed indices, "
    "timing lines, reversed cues, and empty payloads raise per record. "
    "Scale: identical to multimodal_vtt_captions — sidecar-sized "
    "parse, no payload bytes touched.",
)
def multimodal_srt_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "srt_files", "srt", _render_srt)
    bf = (
        read_blobs(spark, path, "srt")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.srt$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.srt import srt_caption_stats

        cols = [
            "n_cues", "covered_ms", "first_start_ms", "last_end_ms",
            "n_chars",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                st = srt_caption_stats(bytes(content).decode("utf-8"))
                out["doc_id"].append(int(doc_id))
                for c in cols:
                    out[c].append(st[c])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, n_cues int, covered_ms long, "
        "first_start_ms long, last_end_ms long, n_chars long",
    )
@register(
    "multimodal_vtt_captions",
    oracle="""
    WITH b AS (
      SELECT doc_id, 2 + doc_id % 5 AS n, (doc_id % 7) * 10 AS off,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS ov
      FROM documents)
    SELECT doc_id,
      CAST(n + ov AS INT) AS n_cues,
      CAST(n * 1500 + ov * 1000 AS BIGINT) AS covered_ms,
      CAST(off AS BIGINT) AS first_start_ms,
      CAST((n - 1) * 2000 + off + 1500 + ov * 1000 AS BIGINT) AS last_end_ms,
      CAST(7 * n + ov * 4 AS BIGINT) AS n_chars
    FROM b
    """,
    doc="WebVTT caption-sidecar ingest — the caption half of video-text "
    "pair corpora (operators/vtt.py, public W3C WebVTT structure: "
    "signature, cue identifiers, NOTE comment blocks, optional-hours "
    "timing lines, multi-line payloads): per-document caption structure "
    "is the gate a pairing pipeline runs before shipping any video "
    "bytes — cue count, covered time with OVERLAPPING CUES MERGED (a "
    "quarter of the staged docs carry an overlapping tail cue, so "
    "double-counting fails the hash), span, and payload size. Malformed "
    "signatures, timing lines, and end<=start cues raise per record. "
    "The oracle recomputes every column from the staging formulas. "
    "Scale: sidecars are tiny next to their videos; this parse rides "
    "the same binaryFile scan that probes the video container "
    "(multimodal_webm_probe / multimodal_mp4_probe), so caption gating "
    "adds no extra pass over payload bytes.",
)
def multimodal_vtt_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "vtt_files", "vtt", _render_vtt)
    bf = (
        read_blobs(spark, path, "vtt")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.vtt$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.vtt import caption_stats

        cols = [
            "n_cues", "covered_ms", "first_start_ms", "last_end_ms",
            "n_chars",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                st = caption_stats(bytes(content).decode("utf-8"))
                out["doc_id"].append(int(doc_id))
                for c in cols:
                    out[c].append(st[c])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, n_cues int, covered_ms long, "
        "first_start_ms long, last_end_ms long, n_chars long",
    )
def _render_corrupt_pdf(doc_id: int, text: str) -> bytes:
    # every _CORRUPT_MOD-th upload is torn: the tail (startxref trailer)
    # is the most fragile region of a PDF and the first thing a
    # truncated upload loses
    data = _render_pdf(doc_id, text)
    return data[: len(data) - 24] if doc_id % _CORRUPT_MOD == 0 else data
@register(
    "pdf_ingest_quarantine",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN 'corrupt' ELSE 'ok' END
             AS status,
           CASE WHEN doc_id % {_CORRUPT_MOD} = 0 THEN NULL
                ELSE length(text) END AS n_chars
    FROM documents
    """,
    doc="Per-record QUARANTINE for the document corpus: every "
    f"{_CORRUPT_MOD}th staged PDF is torn at the tail (the startxref "
    "trailer — what a truncated upload actually loses), the kernel "
    "wraps the structural parser per record and routes failures to a "
    "status column, and the oracle checks both halves: corrupt files "
    "yield status='corrupt' with NULL extraction, every healthy file "
    "still recovers its text byte-exactly (length checked against the "
    "base table). One parser definition — the same code that raises in "
    "pipeline_pdf_extract. At 100 TB a curation job cannot abort on one "
    "torn document; quarantine rows route to a dead-letter table for "
    "re-fetch.",
)
def pdf_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "pdf_corrupt", "pdf", _render_corrupt_pdf
    )
    bf = read_blobs(spark, path, "pdf").select("path", "content")

    def op(batches):
        import re as _re

        import pandas as pd

        from ...operators.pdf import extract_pdf_text

        for pdf in batches:
            out = {"doc_id": [], "status": [], "n_chars": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.pdf$", p).group(1))
                )
                try:
                    pages = extract_pdf_text(bytes(content))
                    out["status"].append("ok")
                    out["n_chars"].append(
                        sum(len(ln) for pg in pages for ln in pg)
                    )
                except (ValueError, NotImplementedError):
                    out["status"].append("corrupt")
                    out["n_chars"].append(None)
            yield pd.DataFrame(out)

    return bf.mapInPandas(op, schema="doc_id long, status string, n_chars long")
def _decode_pdf_frame(frame: DataFrame) -> DataFrame:
    def op(batches):
        import re as _re

        import pandas as pd

        from ...operators.pdf import extract_pdf_text

        for pdf in batches:
            out = {"doc_id": [], "n_pages": [], "compressed": [], "n_chars": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                payload = bytes(content)
                pages = extract_pdf_text(payload)
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.pdf$", p).group(1))
                )
                out["n_pages"].append(len(pages))
                out["compressed"].append(1 if b"/FlateDecode" in payload else 0)
                out["n_chars"].append(
                    sum(len(ln) for pg in pages for ln in pg)
                )
            yield pd.DataFrame(out)

    return frame.mapInPandas(
        op,
        schema="doc_id long, n_pages int, compressed int, n_chars long",
    )
@register(
    "stream_pdf_ingest",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
               AS n_lines
      FROM documents)
    SELECT doc_id,
      CAST((n_lines + {_PDF_PAGE_LINES - 1}) // {_PDF_PAGE_LINES} AS INT)
        AS n_pages,
      CAST(doc_id % 2 AS INT) AS compressed,
      length(text) AS n_chars
    FROM b
    """,
    doc="STREAMING document-bucket ingestion — the Auto-Loader-shaped "
    "counterpart to pipeline_pdf_extract: the same staged PDFs are "
    "consumed through readStream.format('binaryFile') with "
    "maxFilesPerTrigger bounding each micro-batch, parsed per batch by "
    "the same structural kernel, appended to a parquet target, and the "
    "accumulated target must hash-equal the batch extraction (same "
    "oracle formulas). This is how a continuously-filling document "
    "bucket is operated at 100 TB: checkpointed listing, bounded "
    "per-trigger parse, exactly-once appends through the checkpoint.",
)
def stream_pdf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ...session import ensure_session_confs

    ensure_session_confs(spark)
    feed = stage_doc_files(spark, sf_dir, "pdf_files", "pdf", _render_pdf)
    target = run_dir("pdf_stream_target", sf_dir)
    chk = run_dir("pdf_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.pdf")
        .option("maxFilesPerTrigger", 200)
        .load(feed)
        .select("path", "content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _decode_pdf_frame(batch_df).write.mode("append").parquet(target)

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
@register(
    "pipeline_document_corpus_incremental",
    oracle=_doc_capstone_oracle(),
    doc="Incremental refresh for the document family — per-language "
    "stats computed on a BASE document drop and a DELTA drop "
    "separately, then MERGED: doc and token counts add; the distinct-"
    "normalized-text count does NOT (a text duplicated across drops "
    "must count once), so the partials carry the distinct-norm set and "
    "the merge unions before counting — exactly the bug a sum-the-"
    "distincts shortcut would ship; mean length re-derives from merged "
    "sums, never averaged averages. The oracle is the SAME direct "
    "full-corpus SQL as pipeline_document_corpus, so the driver "
    "value-checks merge == recompute. At scale the norm set becomes "
    "the mergeable HLL sketch (sketch_hll_partitioned_union) or the "
    "stored silver partials a refresh reads instead of re-parsing the "
    "corpus.",
)
def pipeline_document_corpus_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ...operators.dedup import normalize_text
    from ...operators.text import lang_id

    path = stage_doc_files(spark, sf_dir, "pdf_files", "pdf", _render_pdf)
    bf = read_blobs(spark, path, "pdf").select("path", "content")
    doc_no = F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long")
    base_bf = bf.filter(doc_no % 10 != 0)
    delta_bf = bf.filter(doc_no % 10 == 0)

    def recovered(frame: DataFrame) -> DataFrame:
        def op(batches):
            import pandas as pd

            from ...operators.pdf import extract_pdf_text

            for pdf in batches:
                texts = []
                for content in pdf["content"]:
                    pages = extract_pdf_text(bytes(content))
                    texts.append("".join(ln for pg in pages for ln in pg))
                yield pd.DataFrame({"text": texts})

        return frame.mapInPandas(op, schema="text string")

    def parts(frame: DataFrame) -> DataFrame:
        scored = recovered(frame).select(
            lang_id("text").alias("lang_pred"),
            F.size(F.split(normalize_text(F.col("text")), " ")).alias(
                "n_words"
            ),
            normalize_text(F.col("text")).alias("norm"),
        ).where(F.col("n_words") >= _DOC_MIN_WORDS)
        return scored.groupBy("lang_pred").agg(
            F.count("*").alias("p_docs"),
            F.sum("n_words").alias("p_tokens"),
            F.collect_set("norm").alias("p_norms"),
        )

    merged = parts(base_bf).unionByName(parts(delta_bf))
    return merged.groupBy("lang_pred").agg(
        F.sum("p_docs").alias("n_docs"),
        F.sum("p_tokens").alias("n_tokens"),
        F.size(F.array_distinct(F.flatten(F.collect_list("p_norms"))))
        .cast("long")
        .alias("n_unique"),
        F.round(F.sum("p_tokens") / F.sum("p_docs"), 2).alias("avg_words"),
    )
@register(
    "multimodal_caption_coverage",
    oracle="""
    WITH b AS (
      SELECT doc_id, doc_id % 3 AS m,
             2 + doc_id % 5 AS n, (doc_id % 7) * 10 AS off,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS ov
      FROM documents),
    v AS (
      SELECT doc_id,
             CAST(CASE m WHEN 0 THEN 1000 * (1 + doc_id % 10)
                         WHEN 1 THEN 2500 ELSE 750 END AS BIGINT)
               AS duration_ms,
             CAST(n * 1500 + ov * 1000 AS BIGINT) AS covered_ms
      FROM b)
    SELECT doc_id, duration_ms, covered_ms,
           CAST(least(1000, (covered_ms * 1000) // duration_ms) AS BIGINT)
             AS coverage_permille
    FROM v
    """,
    doc="Video-caption ALIGNMENT gate — the composition the two sidecar "
    "families exist for: the EBML probe supplies each video's "
    "TimestampScale-corrected duration, the WebVTT parse supplies its "
    "overlap-merged caption coverage, and the join yields coverage "
    "permille — the number a video-text pairing pipeline thresholds on "
    "before shipping any payload bytes to a decode fleet (a video "
    "captioned for 9%% of its runtime is not a caption pair). Exact "
    "integer arithmetic end to end (permille = covered*1000 // "
    "duration, capped at 1000 for spill-over cues), recomputed fully "
    "by the oracle from both families' staging formulas — a drift in "
    "EITHER parser breaks the hash. Scale: both sides are metadata "
    "next to their payloads and key 1:1 on the asset id; the join is "
    "sidecar-sized regardless of corpus payload bytes, which is why "
    "caption gating belongs BEFORE any codec work in the pipeline "
    "topology.",
)
def multimodal_caption_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    webm_path = stage_doc_files(
        spark, sf_dir, "webm_files", "webm", _render_webm
    )
    vtt_path = stage_doc_files(spark, sf_dir, "vtt_files", "vtt", _render_vtt)

    def vid_op(batches):
        import re as _re

        import pandas as pd

        from ...operators.ebml import probe_webm

        for pdf in batches:
            out = {"doc_id": [], "duration_ms": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.webm$", p).group(1))
                )
                out["duration_ms"].append(probe_webm(bytes(content))["duration_ms"])
            yield pd.DataFrame(out)

    def cap_op(batches):
        import re as _re

        import pandas as pd

        from ...operators.vtt import caption_stats

        for pdf in batches:
            out = {"doc_id": [], "covered_ms": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.vtt$", p).group(1))
                )
                out["covered_ms"].append(
                    caption_stats(bytes(content).decode("utf-8"))["covered_ms"]
                )
            yield pd.DataFrame(out)

    vids = (
        read_blobs(spark, webm_path, "webm")
        .select("path", "content")
        .mapInPandas(vid_op, schema="doc_id long, duration_ms long")
    )
    caps = (
        read_blobs(spark, vtt_path, "vtt")
        .select("path", "content")
        .mapInPandas(cap_op, schema="doc_id long, covered_ms long")
    )
    return vids.join(caps, "doc_id").select(
        "doc_id",
        "duration_ms",
        "covered_ms",
        F.least(
            F.lit(1000),
            (F.col("covered_ms") * 1000 / F.col("duration_ms")).cast("long"),
        )
        .cast("long")
        .alias("coverage_permille"),
    )
@register(
    "multimodal_caption_coverage_mixed",
    oracle="""
    WITH b AS (
      SELECT doc_id, doc_id % 3 AS m,
             2 + doc_id % 5 AS n, (doc_id % 7) * 10 AS off,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS ov
      FROM documents),
    v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'vtt' ELSE 'srt' END AS fmt,
             CAST(CASE m WHEN 0 THEN 1000 * (1 + doc_id % 10)
                         WHEN 1 THEN 2500 ELSE 750 END AS BIGINT)
               AS duration_ms,
             CAST(n * 1500 + ov * 1000 AS BIGINT) AS covered_ms
      FROM b)
    SELECT doc_id, fmt, duration_ms, covered_ms,
           CAST(least(1000, (covered_ms * 1000) // duration_ms) AS BIGINT)
             AS coverage_permille
    FROM v
    """,
    doc="Mixed-format caption alignment gate (r10 verdict #4) — the "
    "real-corpus shape: HALF the sidecars are WebVTT, half SubRip "
    "(alternating by doc parity), and ONE ingest dispatches on the "
    "file extension to the right parser (operators/vtt.py / "
    "operators/srt.py), both feeding the shared overlap-merged "
    "interval stats before the 1:1 join onto the EBML-probed video "
    "durations. Exact integer coverage permille as in "
    "multimodal_caption_coverage; the oracle additionally recomputes "
    "which FORMAT each doc rode in, so a dispatch bug (SRT parsed as "
    "VTT or vice versa — both would raise here, but a lenient parser "
    "could limp through) cannot hide. Scale: the caption scan reads "
    "two sidecar directories instead of one — still metadata-sized; "
    "the join and gate are unchanged.",
)
def multimodal_caption_coverage_mixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    webm_path = stage_doc_files(
        spark, sf_dir, "webm_files", "webm", _render_webm
    )
    vtt_path = stage_doc_files(spark, sf_dir, "vtt_files", "vtt", _render_vtt)
    srt_path = stage_doc_files(spark, sf_dir, "srt_files", "srt", _render_srt)

    def vid_op(batches):
        import re as _re

        import pandas as pd

        from ...operators.ebml import probe_webm

        for pdf in batches:
            out = {"doc_id": [], "duration_ms": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.webm$", p).group(1))
                )
                out["duration_ms"].append(
                    probe_webm(bytes(content))["duration_ms"]
                )
            yield pd.DataFrame(out)

    def cap_op(batches):
        # extension-dispatched sidecar parse: one kernel, two formats
        import re as _re

        import pandas as pd

        from ...operators.srt import srt_caption_stats
        from ...operators.vtt import caption_stats

        for pdf in batches:
            out = {"doc_id": [], "fmt": [], "covered_ms": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                m = _re.search(r"(\d+)\.(vtt|srt)$", p)
                doc = bytes(content).decode("utf-8")
                fmt = m.group(2)
                st = caption_stats(doc) if fmt == "vtt" else srt_caption_stats(doc)
                out["doc_id"].append(int(m.group(1)))
                out["fmt"].append(fmt)
                out["covered_ms"].append(st["covered_ms"])
            yield pd.DataFrame(out)

    vids = (
        read_blobs(spark, webm_path, "webm")
        .select("path", "content")
        .mapInPandas(vid_op, schema="doc_id long, duration_ms long")
    )
    doc_no = F.regexp_extract(F.col("path"), r"(\d+)\.(?:vtt|srt)$", 1).cast(
        "long"
    )
    vtt_side = (
        read_blobs(spark, vtt_path, "vtt")
        .filter(doc_no % 2 == 0)
        .select("path", "content")
    )
    srt_side = (
        read_blobs(spark, srt_path, "srt")
        .filter(doc_no % 2 == 1)
        .select("path", "content")
    )
    caps = vtt_side.unionByName(srt_side).mapInPandas(
        cap_op, schema="doc_id long, fmt string, covered_ms long"
    )
    return vids.join(caps, "doc_id").select(
        "doc_id",
        "fmt",
        "duration_ms",
        "covered_ms",
        F.least(
            F.lit(1000),
            (F.col("covered_ms") * 1000 / F.col("duration_ms")).cast("long"),
        )
        .cast("long")
        .alias("coverage_permille"),
    )
_VT_GATE_PERMILLE = 500
_VT_DOCS_PER_SHARD = 64
def _build_videotext_shard(pdf, sid: int) -> bytes:
    """One video-text WebDataset shard: {doc_id:08d}.webm (a real EBML
    container from the staging formulas), .vtt (caption sidecar carrying
    a YT-style ``Language:`` header), .json (source metadata) — the
    layout a video-caption crawler uploads to the bucket."""
    import json as _json

    from ...operators.tar import encode_tar

    members: list[tuple[str, bytes]] = []
    for r in pdf.itertuples():
        did = int(r.doc_id)
        key = f"{did:08d}"
        members.append((f"{key}.webm", _render_webm(did, r.text)))
        members.append((f"{key}.vtt", _render_vtt(did, r.text, lang=r.lang)))
        members.append(
            (
                f"{key}.json",
                _json.dumps(
                    {"doc_id": did, "source": r.source}, sort_keys=True
                ).encode("utf-8"),
            )
        )
    return encode_tar(members)
def _videotext_clip_frame(bf: DataFrame) -> DataFrame:
    """Shard blobs -> gated (clip-id, caption window) pair rows.  One
    Arrow kernel does the whole sample-level pipeline map-side: tar walk,
    member regroup by key, EBML duration/codec probe, VTT header + cue
    parse, overlap-merged coverage, and the permille gate — no join, no
    shuffle; payload bytes never cross the wire."""

    def op(batches):
        import pandas as pd

        from ...operators.ebml import probe_webm
        from ...operators.tar import iter_tar
        from ...operators.vtt import caption_stats, header_meta, parse_vtt

        cols = [
            "doc_id", "lang", "video_codec", "clip_id",
            "start_ms", "end_ms", "n_chars", "coverage_permille",
        ]
        for pdf in batches:
            out = {c: [] for c in cols}
            for blob in pdf["content"]:
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in iter_tar(bytes(blob)):
                    key, _, ext = name.partition(".")
                    samples.setdefault(key, {})[ext] = data
                for key in sorted(samples):
                    parts = samples[key]
                    p = probe_webm(bytes(parts["webm"]))
                    if p["n_video"] < 1:
                        continue  # audio-only upload: not a video pair
                    doc = parts["vtt"].decode("utf-8")
                    lang = header_meta(doc)["Language"]
                    covered = caption_stats(doc)["covered_ms"]
                    permille = min(
                        1000, covered * 1000 // p["duration_ms"]
                    )
                    if permille < _VT_GATE_PERMILLE:
                        continue  # sparsely captioned: not a pair
                    for cid, (s, e, t) in enumerate(parse_vtt(doc)):
                        out["doc_id"].append(int(key))
                        out["lang"].append(lang)
                        out["video_codec"].append(p["video_codec"])
                        out["clip_id"].append(cid)
                        out["start_ms"].append(s)
                        out["end_ms"].append(e)
                        out["n_chars"].append(len(t))
                        out["coverage_permille"].append(permille)
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, lang string, video_codec string, "
        "clip_id int, start_ms long, end_ms long, n_chars long, "
        "coverage_permille long",
    )
_VT_GATED_SQL = f"""
    b AS (
      SELECT doc_id, lang, doc_id % 3 AS m, 2 + doc_id % 5 AS n,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS ov
      FROM documents),
    v AS (
      SELECT doc_id, lang, n, ov,
             CASE m WHEN 0 THEN CAST(1000 * (1 + doc_id % 10) AS BIGINT)
                    WHEN 1 THEN CAST(2500 AS BIGINT)
                    ELSE CAST(750 AS BIGINT) END AS duration_ms,
             CASE m WHEN 0 THEN 'V_VP9' WHEN 1 THEN 'V_AV1' END
               AS video_codec,
             CAST(n * 1500 + ov * 1000 AS BIGINT) AS covered_ms
      FROM b),
    g AS (
      SELECT *,
             least(1000, (covered_ms * 1000) // duration_ms) AS permille
      FROM v WHERE video_codec IS NOT NULL),
    gated AS (SELECT * FROM g WHERE permille >= {_VT_GATE_PERMILLE})
"""
@register(
    "pipeline_video_text_pairs",
    oracle=f"""
    WITH {_VT_GATED_SQL}
    SELECT lang, video_codec,
           COUNT(DISTINCT doc_id) AS n_videos,
           CAST(SUM(n + ov) AS BIGINT) AS n_clips,
           CAST(SUM((n + ov) * 1500) AS BIGINT) AS clip_ms,
           CAST(SUM(7 * n + 4 * ov) AS BIGINT) AS caption_chars,
           CAST(SUM(permille) AS BIGINT) AS sum_coverage_permille
    FROM gated GROUP BY lang, video_codec
    """,
    doc="VIDEO-TEXT PAIR CAPSTONE — the missing sibling of "
    "pipeline_image_text_pairs (r9 verdict #4), composed end to end "
    "from parts that each carry their own green oracle: WebDataset tar "
    "shards of {key}.webm/.vtt/.json are staged from the executors, "
    "and ONE Arrow kernel runs the whole sample-level pipeline "
    "map-side — tar walk, EBML duration/codec probe "
    "(TimestampScale-corrected), VTT header-metadata language, "
    "overlap-MERGED caption coverage, the >=500-permille alignment "
    "gate, audio-only uploads dropped — emitting gated (clip-id, "
    "caption window) pair rows; the only shuffle in the plan is the "
    "final per-(lang, codec) aggregate (partial agg runs map-side), "
    "and nothing is ever broadcast. The oracle recomputes every number "
    "from BOTH families' staging formulas — a drift in the EBML "
    "parser, the VTT parser, the header-metadata path, or the gate "
    "arithmetic breaks the hash. 100 TB shape: payload bytes stay "
    "inside their shard's task (file-granular parallelism, no payload "
    "shuffle), the gate runs before any codec work, and the output is "
    "clip metadata — exactly what a decode fleet consumes.",
)
def pipeline_video_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "videotext_shards", _build_videotext_shard,
        suffix="tar",
    )
    bf = read_blobs(spark, path, "tar").select("content")
    clips = _videotext_clip_frame(bf)
    return clips.groupBy("lang", "video_codec").agg(
        F.countDistinct("doc_id").alias("n_videos"),
        F.count("*").cast("long").alias("n_clips"),
        F.sum(F.col("end_ms") - F.col("start_ms")).alias("clip_ms"),
        F.sum("n_chars").alias("caption_chars"),
        F.sum(
            F.when(F.col("clip_id") == 0, F.col("coverage_permille"))
            .otherwise(0)
        ).alias("sum_coverage_permille"),
    )
@register(
    "pipeline_video_text_export",
    oracle=f"""
    WITH {_VT_GATED_SQL}
    SELECT doc_id, lang, video_codec,
           CAST(n + ov AS INT) AS n_clips,
           CAST(permille AS BIGINT) AS coverage_permille,
           1 AS meta_ok
    FROM gated
    """,
    doc="Video-text WebDataset EXPORT — the produce half of the pairing "
    "story (pipeline_video_text_pairs is the gate/consume half): the "
    "staged crawl shards are re-walked map-side, each sample passes "
    "the same coverage gate, and the SURVIVORS are re-sharded and "
    "written from the executors as genuine ustar .tar files in the "
    "{key}.webm/.vtt/.json layout — video and caption bytes shipped "
    "AS CRAWLED (lossless passthrough, never re-encoded), the .json "
    "enriched with the computed lang/coverage/duration so downstream "
    "loaders need no re-probe. The shards are then READ BACK through "
    "the ingest walker and every sample re-verified: the .webm "
    "re-probes, the .vtt re-parses, and meta_ok demands the enriched "
    "metadata equal a full recompute from the shipped bytes — a "
    "passthrough that corrupted either member fails the oracle, which "
    "itself recomputes every row from the staging formulas. Scale "
    "shape: the export groupBy shards on doc_id ranges, each task "
    "writes its shard sequentially (the object-store upload pattern), "
    "readback is a parallel scan; nothing is broadcast.",
)
def pipeline_video_text_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "videotext_shards", _build_videotext_shard,
        suffix="tar",
    )
    bf = read_blobs(spark, path, "tar").select("content")

    def gate_op(batches):
        import json as _json

        import pandas as pd

        from ...operators.ebml import probe_webm
        from ...operators.tar import iter_tar
        from ...operators.vtt import caption_stats, header_meta

        for pdf in batches:
            out = {"doc_id": [], "webm": [], "vtt": [], "meta": []}
            for blob in pdf["content"]:
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in iter_tar(bytes(blob)):
                    key, _, ext = name.partition(".")
                    samples.setdefault(key, {})[ext] = data
                for key in sorted(samples):
                    parts = samples[key]
                    p = probe_webm(bytes(parts["webm"]))
                    if p["n_video"] < 1:
                        continue
                    doc = parts["vtt"].decode("utf-8")
                    covered = caption_stats(doc)["covered_ms"]
                    permille = min(
                        1000, covered * 1000 // p["duration_ms"]
                    )
                    if permille < _VT_GATE_PERMILLE:
                        continue
                    out["doc_id"].append(int(key))
                    out["webm"].append(bytes(parts["webm"]))
                    out["vtt"].append(bytes(parts["vtt"]))
                    out["meta"].append(
                        _json.dumps(
                            {
                                "lang": header_meta(doc)["Language"],
                                "video_codec": p["video_codec"],
                                "duration_ms": p["duration_ms"],
                                "coverage_permille": permille,
                            },
                            sort_keys=True,
                        )
                    )
            yield pd.DataFrame(out)

    gated = bf.mapInPandas(
        gate_op, schema="doc_id long, webm binary, vtt binary, meta string"
    ).withColumn(
        "shard",
        F.floor(F.col("doc_id") / _VT_DOCS_PER_SHARD).cast("int"),
    )

    out_dir = run_dir("videotext_export", sf_dir)
    os.makedirs(out_dir)

    def write_shard(pdf):
        import pandas as pd

        from ...operators.tar import encode_tar

        pdf = pdf.sort_values("doc_id")
        sid = int(pdf["shard"].iloc[0])
        members: list[tuple[str, bytes]] = []
        for r in pdf.itertuples():
            key = f"{int(r.doc_id):08d}"
            members.append((f"{key}.webm", bytes(r.webm)))
            members.append((f"{key}.vtt", bytes(r.vtt)))
            members.append((f"{key}.json", r.meta.encode("utf-8")))
        write_atomic(out_dir, f"{sid:05d}.tar", encode_tar(members))
        return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

    gated.groupBy("shard").applyInPandas(
        write_shard, "shard int, n int"
    ).collect()  # completion action on (shard, n) frames only

    back = read_blobs(spark, out_dir, "tar").select("content")

    def verify_op(batches):
        import json as _json

        import pandas as pd

        from ...operators.ebml import probe_webm
        from ...operators.tar import iter_tar
        from ...operators.vtt import caption_stats, header_meta, parse_vtt

        cols = [
            "doc_id", "lang", "video_codec", "n_clips",
            "coverage_permille", "meta_ok",
        ]
        for pdf in batches:
            out = {c: [] for c in cols}
            for blob in pdf["content"]:
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in iter_tar(bytes(blob)):
                    key, _, ext = name.partition(".")
                    samples.setdefault(key, {})[ext] = data
                for key in sorted(samples):
                    parts = samples[key]
                    meta = _json.loads(parts["json"].decode("utf-8"))
                    p = probe_webm(bytes(parts["webm"]))
                    doc = parts["vtt"].decode("utf-8")
                    covered = caption_stats(doc)["covered_ms"]
                    permille = min(
                        1000, covered * 1000 // p["duration_ms"]
                    )
                    ok = (
                        meta["coverage_permille"] == permille
                        and meta["duration_ms"] == p["duration_ms"]
                        and meta["video_codec"] == p["video_codec"]
                        and meta["lang"] == header_meta(doc)["Language"]
                    )
                    out["doc_id"].append(int(key))
                    out["lang"].append(meta["lang"])
                    out["video_codec"].append(meta["video_codec"])
                    out["n_clips"].append(len(parse_vtt(doc)))
                    out["coverage_permille"].append(permille)
                    out["meta_ok"].append(1 if ok else 0)
            yield pd.DataFrame(out)

    return back.mapInPandas(
        verify_op,
        schema="doc_id long, lang string, video_codec string, "
        "n_clips int, coverage_permille long, meta_ok int",
    )
def _build_videotext_corrupt_shard(pdf, sid: int) -> bytes:
    """The quarantine staging: every 10th doc's video container is torn
    at the tail (what a truncated upload loses), every doc_id%10==5
    caption sidecar has its timing arrow mangled — per-member damage, so
    one shard carries healthy and broken samples side by side."""
    import json as _json

    from ...operators.tar import encode_tar

    members: list[tuple[str, bytes]] = []
    for r in pdf.itertuples():
        did = int(r.doc_id)
        key = f"{did:08d}"
        webm = _render_webm(did, r.text)
        if did % 10 == 0:
            webm = webm[:-16]
        vtt = _render_vtt(did, r.text, lang=r.lang)
        if did % 10 == 5:
            vtt = vtt.replace(b" --> ", b" -> ", 1)
        members.append((f"{key}.webm", webm))
        members.append((f"{key}.vtt", vtt))
        members.append(
            (
                f"{key}.json",
                _json.dumps({"doc_id": did}, sort_keys=True).encode("utf-8"),
            )
        )
    return encode_tar(members)
@register(
    "video_text_ingest_quarantine",
    oracle=f"""
    WITH {_VT_GATED_SQL},
    allp AS (
      -- coverage is computable for audio-only uploads too (they parse
      -- fine; they just never pass the video gate) — so no codec filter
      SELECT doc_id, video_codec,
             least(1000, (covered_ms * 1000) // duration_ms) AS permille
      FROM v),
    verdicts AS (
      SELECT b.doc_id,
             CASE WHEN b.doc_id % 10 = 0 THEN 'corrupt_video'
                  WHEN b.doc_id % 10 = 5 THEN 'corrupt_caption'
                  ELSE 'ok' END AS status
      FROM b)
    SELECT vd.doc_id, vd.status,
           CASE WHEN vd.status = 'ok' THEN allp.permille END
             AS coverage_permille,
           CASE WHEN vd.status = 'ok' THEN
             CASE WHEN allp.video_codec IS NOT NULL
                       AND allp.permille >= {_VT_GATE_PERMILLE}
                  THEN 1 ELSE 0 END
           END AS gated
    FROM verdicts vd LEFT JOIN allp USING (doc_id)
    """,
    doc="Per-record QUARANTINE for the video-text family — the same "
    "operational gate every staged-media family here carries: every "
    "10th video container is torn at the tail (what a truncated upload "
    "loses), every doc_id%10==5 caption sidecar has its timing arrow "
    "mangled, and the kernel wraps BOTH parsers per sample, routing "
    "failures to a status column ('corrupt_video'/'corrupt_caption') "
    "while healthy samples still compute their full coverage gate. The "
    "oracle checks all three verdicts AND the surviving samples' "
    "coverage/gate values from the staging formulas — a quarantine "
    "that also ate a healthy record, or let a torn one through, fails "
    "the hash. At 100 TB a pairing job cannot abort on one torn "
    "upload; quarantine rows route to a dead-letter table for "
    "re-fetch. Same parser definitions as the capstone — the raise "
    "sites are shared code.",
)
def video_text_ingest_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "videotext_corrupt", _build_videotext_corrupt_shard,
        suffix="tar",
    )
    bf = read_blobs(spark, path, "tar").select("content")

    def op(batches):
        import pandas as pd

        from ...operators.ebml import probe_webm
        from ...operators.tar import iter_tar
        from ...operators.vtt import caption_stats

        cols = ["doc_id", "status", "coverage_permille", "gated"]
        for pdf in batches:
            out = {c: [] for c in cols}
            for blob in pdf["content"]:
                samples: dict[str, dict[str, bytes]] = {}
                for name, data in iter_tar(bytes(blob)):
                    key, _, ext = name.partition(".")
                    samples.setdefault(key, {})[ext] = data
                for key in sorted(samples):
                    parts = samples[key]
                    out["doc_id"].append(int(key))
                    try:
                        p = probe_webm(bytes(parts["webm"]))
                    except Exception:  # noqa: BLE001 — ANY failure quarantines
                        out["status"].append("corrupt_video")
                        out["coverage_permille"].append(None)
                        out["gated"].append(None)
                        continue
                    try:
                        covered = caption_stats(
                            parts["vtt"].decode("utf-8")
                        )["covered_ms"]
                    except Exception:  # noqa: BLE001
                        out["status"].append("corrupt_caption")
                        out["coverage_permille"].append(None)
                        out["gated"].append(None)
                        continue
                    permille = min(
                        1000, covered * 1000 // p["duration_ms"]
                    )
                    out["status"].append("ok")
                    out["coverage_permille"].append(permille)
                    out["gated"].append(
                        1
                        if p["n_video"] >= 1
                        and permille >= _VT_GATE_PERMILLE
                        else 0
                    )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, status string, coverage_permille long, "
        "gated int",
    )
@register(
    "stream_video_text_pairs",
    oracle=f"""
    WITH {_VT_GATED_SQL}
    SELECT lang, video_codec,
           COUNT(DISTINCT doc_id) AS n_videos,
           CAST(SUM(n + ov) AS BIGINT) AS n_clips,
           CAST(SUM((n + ov) * 1500) AS BIGINT) AS clip_ms,
           CAST(SUM(7 * n + 4 * ov) AS BIGINT) AS caption_chars,
           CAST(SUM(permille) AS BIGINT) AS sum_coverage_permille
    FROM gated GROUP BY lang, video_codec
    """,
    doc="STREAMING video-text pairing — the Auto-Loader-shaped "
    "counterpart to pipeline_video_text_pairs: the same WebDataset "
    "shards are consumed through readStream.format('binaryFile') with "
    "maxFilesPerTrigger bounding each micro-batch, each batch runs the "
    "SAME map-side gate kernel (tar walk, EBML probe, VTT coverage, "
    "permille gate), gated clip rows append to a parquet target "
    "through the checkpoint, and the accumulated target re-aggregates "
    "to the capstone's exact per-(lang, codec) stats — the batch "
    "oracle IS this query's oracle, so the streaming path drifting "
    "from the batch path by one clip fails the hash. 100 TB shape: a "
    "continuously-filling video bucket is operated exactly like this — "
    "checkpointed listing, bounded per-trigger decode, exactly-once "
    "appends.",
)
def stream_video_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ...session import ensure_session_confs

    ensure_session_confs(spark)
    feed = stage_shard_files(
        spark, sf_dir, "videotext_shards", _build_videotext_shard,
        suffix="tar",
    )
    target = run_dir("videotext_stream_target", sf_dir)
    chk = run_dir("videotext_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.tar")
        .option("maxFilesPerTrigger", 4)
        .load(feed)
        .select("content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _videotext_clip_frame(batch_df).write.mode("append").parquet(target)

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

    clips = spark.read.parquet(target)
    return clips.groupBy("lang", "video_codec").agg(
        F.countDistinct("doc_id").alias("n_videos"),
        F.count("*").cast("long").alias("n_clips"),
        F.sum(F.col("end_ms") - F.col("start_ms")).alias("clip_ms"),
        F.sum("n_chars").alias("caption_chars"),
        F.sum(
            F.when(F.col("clip_id") == 0, F.col("coverage_permille"))
            .otherwise(0)
        ).alias("sum_coverage_permille"),
    )
@register(
    "pipeline_video_text_pairs_incremental",
    oracle=f"""
    WITH {_VT_GATED_SQL}
    SELECT lang, video_codec,
           COUNT(DISTINCT doc_id) AS n_videos,
           CAST(SUM(n + ov) AS BIGINT) AS n_clips,
           CAST(SUM((n + ov) * 1500) AS BIGINT) AS clip_ms,
           CAST(SUM(7 * n + 4 * ov) AS BIGINT) AS caption_chars,
           CAST(SUM(permille) AS BIGINT) AS sum_coverage_permille
    FROM gated GROUP BY lang, video_codec
    """,
    doc="Incremental refresh of the video-text pair corpus — base+delta "
    "at the SHARD level, with a twist the image family's incremental "
    "does not need: the delta deliberately RE-DELIVERS one base shard "
    "(the at-least-once delivery shape every object-store listing "
    "eventually produces), so the merge must be re-scan idempotent. "
    "Each side reduces independently to its doc-grain partial (doc_id, "
    "lang, codec, n_clips, clip_ms, chars, permille — gated clip "
    "metadata, pool-bounded, payload bytes never leave the side's "
    "scan); the merge unions the partials, collapses the re-delivered "
    "duplicates by doc-grain distinct (partial rows for a re-scanned "
    "doc are IDENTICAL, so distinct is exact — no last-writer "
    "tiebreak needed), and re-aggregates. The oracle is the capstone's "
    "full-recompute oracle, so merge == recompute is value-checked "
    "exactly; a double-counted re-delivered shard fails the hash. "
    "100 TB shape: only the delta's shards are scanned and probed at "
    "refresh time; merge cost is bounded by the gated clip metadata, "
    "not the crawl.",
)
def pipeline_video_text_pairs_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:

    feed = stage_shard_files(
        spark, sf_dir, "videotext_shards", _build_videotext_shard,
        suffix="tar",
    )
    files = sorted(f for f in os.listdir(feed) if f.endswith(".tar"))
    base = [
        os.path.join(feed, f)
        for i, f in enumerate(files)
        if i % 5 != 4
    ]
    delta = [
        os.path.join(feed, f)
        for i, f in enumerate(files)
        if i % 5 == 4
    ] + base[:1]  # at-least-once: one base shard re-delivered

    def partial(paths: list) -> DataFrame:
        bf = read_blobs(spark, paths, "tar").select("content")
        clips = _videotext_clip_frame(bf)
        return clips.groupBy("doc_id", "lang", "video_codec").agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("end_ms") - F.col("start_ms")).alias("clip_ms"),
            F.sum("n_chars").alias("chars"),
            F.max("coverage_permille").alias("permille"),
        )

    merged = partial(base).unionByName(partial(delta)).distinct()
    return merged.groupBy("lang", "video_codec").agg(
        F.countDistinct("doc_id").alias("n_videos"),
        F.sum("n_clips").cast("long").alias("n_clips"),
        F.sum("clip_ms").alias("clip_ms"),
        F.sum("chars").alias("caption_chars"),
        F.sum("permille").alias("sum_coverage_permille"),
    )
_VAD_ENERGY_TH = 260_000  # ~median L1 frame energy of the md5 signal
@register(
    "multimodal_audio_segments",
    oracle=f"""
    WITH smp AS (
      SELECT doc_id, [{", ".join(_wav_sample_sql(j) for j in range(_WAV_N))}] AS s
      FROM documents),
    frames AS (
      SELECT doc_id, f.frame_id,
             s[f.frame_id * {_FRAME} + 1 : (f.frame_id + 1) * {_FRAME}] AS fs
      FROM smp, (SELECT unnest(range({_WAV_N // _FRAME})) AS frame_id) f),
    feat AS (
      SELECT doc_id, frame_id,
             list_sum(list_transform(fs, x -> abs(x)))::BIGINT AS energy
      FROM frames),
    active AS (
      SELECT doc_id, frame_id, energy,
             frame_id - row_number() OVER (
               PARTITION BY doc_id ORDER BY frame_id) AS isl
      FROM feat WHERE energy >= {_VAD_ENERGY_TH}),
    seg AS (
      SELECT doc_id,
             min(frame_id) AS start_frame, max(frame_id) AS end_frame,
             count(*) AS n_frames, sum(energy) AS seg_energy
      FROM active GROUP BY doc_id, isl)
    SELECT doc_id,
           (row_number() OVER (
              PARTITION BY doc_id ORDER BY start_frame) - 1)::INT AS seg_id,
           start_frame::INT AS start_frame, end_frame::INT AS end_frame,
           n_frames::INT AS n_frames, seg_energy::BIGINT AS seg_energy
    FROM seg
    """,
    doc="Energy-threshold audio SEGMENTATION — the VAD shape that turns "
    "long recordings into utterance segments for ASR corpora (the step "
    "between multimodal_audio_features' frame table and a speech "
    "dataset's clip list): frames whose L1 energy clears the threshold "
    "are 'active', and consecutive active frames merge into segments "
    "via the classic gaps-and-islands window (island id = frame_id - "
    "row_number), emitting per-segment bounds, length, and energy. The "
    "frame features come from the SAME Arrow kernel as "
    "multimodal_audio_features (real WAV decode, frame explosion "
    "inside the batch); the segmentation itself is a pure window over "
    "the compact feature rows — which is exactly where it belongs at "
    "100 TB: windows shuffle doc-keyed integer features, never "
    "samples. The oracle recomputes frames, threshold, islands, and "
    "bounds from the md5 sample formulas.",
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    feat = multimodal_audio_features(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy("frame_id")
    active = feat.where(F.col("energy") >= _VAD_ENERGY_TH).withColumn(
        "isl", F.col("frame_id") - F.row_number().over(w)
    )
    seg = active.groupBy("doc_id", "isl").agg(
        F.min("frame_id").alias("start_frame"),
        F.max("frame_id").alias("end_frame"),
        F.count("*").cast("int").alias("n_frames"),
        F.sum("energy").alias("seg_energy"),
    )
    ws = W.partitionBy("doc_id").orderBy("start_frame")
    return seg.select(
        "doc_id",
        (F.row_number().over(ws) - 1).cast("int").alias("seg_id"),
        "start_frame",
        "end_frame",
        "n_frames",
        "seg_energy",
    )
_VND_TWIN_MOD = 5  # doc_id % 5 == 0 clips ship a perturbed twin
_VND_MIN_MATCH = 3  # frames (of 4) that must match exactly
def _render_y4m_twin(doc_id: int, text: str) -> bytes:
    """The near-duplicate twin: same clip, but frame 2's first luma
    pixel nudged (+7 mod 256) — different bytes, different hash on ONE
    frame, identical on the other three. The re-encode/cropped-logo
    shape video dedup actually hunts."""
    from ...operators.multimodal import encode_y4m, md5_pixels

    frames = [md5_pixels(f"f{k}:" + text, 64) for k in range(_Y4M_FRAMES)]
    frames[2] = [(frames[2][0] + 7) % 256, *frames[2][1:]]
    return encode_y4m(
        frames, 8, 8, colorspace="mono" if doc_id % 2 == 0 else "420"
    )
def _stage_y4m_neardup(spark: SparkSession, sf_dir: str) -> str:
    """Every doc ships {doc_id}a.y4m; every _VND_TWIN_MOD-th also ships
    the perturbed twin {doc_id}b.y4m."""

    def render(doc_id: int, text: str) -> list:
        files = [(f"{doc_id}a.y4m", _render_y4m(doc_id, text))]
        if doc_id % _VND_TWIN_MOD == 0:
            files.append((f"{doc_id}b.y4m", _render_y4m_twin(doc_id, text)))
        return files

    return stage_doc_files(spark, sf_dir, "y4m_neardup", None, render)
def _vnd_frame_arm_sql(f: int) -> str:
    cells = []
    for j in range(64):
        px = _y4m_pixel_sql(f, j)
        if f == 2 and j == 0:
            px = f"CASE WHEN twin = 1 THEN ({px} + 7) % 256 ELSE {px} END"
        cells.append(px)
    return (
        f"SELECT clip, {f} AS frame_id, "
        f"md5(array_to_string([{', '.join(cells)}], ',')) AS fh FROM clips"
    )
@register(
    "video_temporal_near_dedup",
    oracle=f"""
    WITH clips AS (
      SELECT doc_id::VARCHAR || 'a' AS clip, text, 0 AS twin FROM documents
      UNION ALL
      SELECT doc_id::VARCHAR || 'b', text, 1 FROM documents
      WHERE doc_id % {_VND_TWIN_MOD} = 0),
    fh AS (
      {" UNION ALL ".join(_vnd_frame_arm_sql(f) for f in range(_Y4M_FRAMES))}),
    pairs AS (
      SELECT x.clip AS clip_a, y.clip AS clip_b,
             count(*) AS n_matching_frames
      FROM fh x JOIN fh y
        ON x.frame_id = y.frame_id AND x.fh = y.fh AND x.clip < y.clip
      GROUP BY x.clip, y.clip)
    SELECT clip_a, clip_b, n_matching_frames::INT AS n_matching_frames
    FROM pairs WHERE n_matching_frames >= {_VND_MIN_MATCH}
    """,
    doc="VIDEO near-duplicate detection by TEMPORAL fingerprint banding "
    "— the video leg of the dedup family, over clips with REAL decoded "
    "pixels (YUV4MPEG2, both plane layouts): every clip decodes "
    "through the genuine Y4M parser and each frame's luma raster "
    "fingerprints to an md5 over its canonical pixel string; the band "
    "key is (frame position, frame hash), so candidate pairs come from "
    "an equi self-join on the banded fingerprints — never all-pairs — "
    f"and pairs matching on >= {_VND_MIN_MATCH} of {_Y4M_FRAMES} "
    "frames survive. The staged corpus plants perturbed twins (every "
    f"{_VND_TWIN_MOD}th clip ships a copy whose frame 2 has ONE luma "
    "pixel nudged — different bytes, 3/4 matching frames: the "
    "re-encode/logo-overlay shape video dedup hunts), and "
    "identical-text documents surface as exact 4/4 clones — BOTH "
    "classes recomputed entirely by the oracle from the md5 staging "
    "formulas including the perturbation. 100 TB shape: fingerprints "
    "are 4 rows of (string, int, hash) per clip — the shuffle carries "
    "fingerprints, never frames; banding by frame position keeps "
    "buckets content-addressed exactly like the image aHash and "
    "MinHash band indexes.",
)
def video_temporal_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_y4m_neardup(spark, sf_dir)
    bf = read_blobs(spark, path, "y4m").select("path", "content")

    def op(batches):
        import hashlib
        import re

        import pandas as pd

        from ...operators.multimodal import decode_video_real

        for pdf in batches:
            out = {"clip": [], "frame_id": [], "fh": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                clip = re.search(r"(\d+[ab])\.y4m$", p).group(1)
                _w, _h, frames = decode_video_real(bytes(content))
                for f, fr in enumerate(frames):
                    out["clip"].append(clip)
                    out["frame_id"].append(f)
                    out["fh"].append(
                        hashlib.md5(
                            ",".join(map(str, fr)).encode("ascii")
                        ).hexdigest()
                    )
            yield pd.DataFrame(out)

    fh = bf.mapInPandas(op, schema="clip string, frame_id int, fh string")
    a, b = fh.alias("a"), fh.alias("b")
    # no join-strategy hint: the band key (frame_id, fh) is an equi key,
    # so AQE is free to pick broadcast at sidecar scale and to split a
    # skewed band at corpus scale — forcing SortMergeJoin would forgo
    # AQE's skew handling (r10 verdict #7)
    return (
        a.join(
            b,
            (F.col("a.frame_id") == F.col("b.frame_id"))
            & (F.col("a.fh") == F.col("b.fh"))
            & (F.col("a.clip") < F.col("b.clip")),
        )
        .groupBy(
            F.col("a.clip").alias("clip_a"), F.col("b.clip").alias("clip_b")
        )
        .agg(F.count("*").cast("int").alias("n_matching_frames"))
        .where(F.col("n_matching_frames") >= _VND_MIN_MATCH)
    )
def _docx_paragraphs(text: str) -> list:
    return [
        text[i : i + _PDF_LINE] for i in range(0, len(text), _PDF_LINE)
    ] or [""]
def _render_docx(doc_id: int, text: str) -> bytes:
    from ...operators.ooxml import write_docx

    return write_docx(_docx_paragraphs(text))

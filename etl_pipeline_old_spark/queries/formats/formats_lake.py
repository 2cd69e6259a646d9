"""Lake interchange formats (Avro, SQLite) and de-markup — one family of the
file-format sources (see the package docstring)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...catalog import load_table
from ...registry import register
from ...sources.files import BINARYFILE_SCHEMA, read_blobs, stage_doc_files
from ...workdir import run_dir

from .formats_containers import (  # noqa: F401 — shared helpers
    _PDF_LINE,
    _render_pdf,
)

from .formats_office import (  # noqa: F401 — shared helpers
    _render_epub,
    _render_mbox,
    _render_rtf,
)

from .formats_video_text import (  # noqa: F401 — shared helpers
    _docx_paragraphs,
    _render_docx,
)

from .formats_web import (  # noqa: F401 — shared helpers
    _render_avro,
)


@register(
    "multimodal_avro_ingest",
    oracle="""
    SELECT doc_id,
      2 AS n_records,
      CAST(CASE doc_id % 3 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
        ELSE 'snappy' END AS VARCHAR) AS codec,
      CAST(doc_id % 3 AS INT) AS n_tags,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
        AS null_scores,
      1 AS text_exact
    FROM documents
    """,
    doc="Avro Object Container shard ingestion (operators/avro.py, own "
    "pure-stdlib codec from the public Avro 1.12 spec) — Avro is the "
    "row-oriented staple of real data lakes (Kafka archives, "
    "Sqoop/NiFi exports) and the PySpark pip distribution ships "
    "WITHOUT the spark-avro module, so this is an ingestion class the "
    "engine would otherwise drop. The codec implements zigzag-varint "
    "longs (the encoding naive readers get wrong on negatives), "
    "blocked arrays/maps with the negative-count skip form, unions as "
    "branch indexes, and the container framing (metadata map, "
    "per-block sync markers verified, null + RAW-deflate codecs, both "
    "cycled across the staged shards). Cross-validated BOTH "
    "directions against the INDEPENDENT org.apache.avro Java "
    "implementation on Spark's own classpath via py4j "
    "(tests/test_avro.py). The oracle demands record counts, codec "
    "routing, union-null accounting, and byte-exact text recovery. "
    "Scale: per-record container walk in the Arrow kernel, like the "
    "ZIP families; blocks make the format splittable on a real "
    "cluster (sync-marker scan), noted as the HDFS-era design intent.",
)
def multimodal_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "avro_files", "avro", _render_avro
    )
    bf = (
        read_blobs(spark, path, "avro")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.avro$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.avro import read_avro

        for b in batches:
            out = {
                "doc_id": [], "n_records": [], "codec": [], "n_tags": [],
                "null_scores": [], "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                _schema, codec, recs = read_avro(bytes(content))
                out["doc_id"].append(int(doc_id))
                out["n_records"].append(len(recs))
                out["codec"].append(codec)
                out["n_tags"].append(len(recs[0]["tags"]))
                out["null_scores"].append(
                    sum(1 for r in recs if r["score"] is None)
                )
                out["text_exact"].append(
                    1 if recs[0]["text"] == text
                    and recs[1]["text"] == text[:10] else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_records int, codec string, n_tags int, "
        "null_scores int, text_exact int",
    )
_AVRO_ERA1_SCHEMA = (
    '{"type":"record","name":"doc","fields":['
    '{"name":"doc_id","type":"int"},'
    '{"name":"title","type":"string"},'
    '{"name":"kind","type":{"type":"enum","name":"k",'
    '"symbols":["A","B","OLD"]}},'
    '{"name":"score","type":"float"},'
    '{"name":"legacy","type":"string"}]}'
)
_AVRO_ERA2_SCHEMA = (
    '{"type":"record","name":"doc","fields":['
    '{"name":"doc_id","type":"long"},'
    '{"name":"name","type":"string","aliases":["title"]},'
    '{"name":"kind","type":{"type":"enum","name":"k",'
    '"symbols":["A","B"],"default":"A"}},'
    '{"name":"score","type":"double"},'
    '{"name":"lang","type":"string","default":"und"},'
    '{"name":"tags","type":{"type":"array","items":"string"},'
    '"default":[]}]}'
)
def _render_avro_era(doc_id: int, text: str) -> bytes:
    from ...operators.avro import write_avro

    codec = ("null", "deflate", "snappy")[doc_id % 3]
    if doc_id % 2 == 0:  # era-1 shard (old writer)
        recs = [
            {
                "doc_id": doc_id,
                "title": text[:12],
                "kind": ("A", "B", "OLD")[doc_id % 3],
                "score": (doc_id % 7) * 0.25,
                "legacy": "to-be-dropped",
            },
            {
                "doc_id": doc_id + 1,
                "title": text[:5],
                "kind": "B",
                "score": 0.5,
                "legacy": "x",
            },
        ]
        return write_avro(recs, _AVRO_ERA1_SCHEMA, codec=codec)
    recs = [
        {
            "doc_id": doc_id,
            "name": text[:12],
            "kind": "A" if doc_id % 4 == 1 else "B",
            "score": (doc_id % 5) * 0.5,
            "lang": "ru",
            "tags": ["x"] * (doc_id % 3),
        },
        {
            "doc_id": doc_id + 1,
            "name": text[:5],
            "kind": "B",
            "score": 0.5,
            "lang": "en",
            "tags": [],
        },
    ]
    return write_avro(recs, _AVRO_ERA2_SCHEMA, codec=codec)
@register(
    "multimodal_avro_evolution",
    oracle="""
    SELECT doc_id,
      CAST(1 + doc_id % 2 AS INT) AS era,
      CAST(CASE doc_id % 3 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
        ELSE 'snappy' END AS VARCHAR) AS codec,
      2 AS n_records,
      CAST(CASE WHEN doc_id % 2 = 0 THEN
             (CASE doc_id % 3 WHEN 1 THEN 'B' ELSE 'A' END)
           ELSE (CASE WHEN doc_id % 4 = 1 THEN 'A' ELSE 'B' END)
           END AS VARCHAR) AS kind,
      CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id % 7) * 0.25
           ELSE (doc_id % 5) * 0.5 END AS DOUBLE) AS score,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 'und' ELSE 'ru' END AS VARCHAR)
        AS lang,
      CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 3 END AS INT)
        AS n_tags,
      1 AS name_exact
    FROM documents
    """,
    doc="Avro SCHEMA RESOLUTION over a two-era lake (r11 verdict #8) — "
    "the half of the Avro spec every long-lived lake hits on day two: "
    "half the shards were written under the era-1 schema (int ids, a "
    "field named 'title', an enum with a since-retired symbol, float "
    "scores, a dropped 'legacy' column), half under era-2, and ALL "
    "are read under the era-2 READER schema through the spec's "
    "resolution rules (operators/avro.py _decode_resolved): int→long "
    "and float→double promotions, 'title'→'name' via the reader "
    "field's aliases, writer-only fields skipped, reader-only fields "
    "('lang', 'tags') filled from their defaults, and the retired "
    "enum symbol 'OLD' re-matched to the reader's enum default 'A'. "
    "The implementation is cross-validated against org.apache.avro's "
    "own resolving GenericDatumReader(writer, reader) in both "
    "directions (tests/test_avro_resolution.py). The oracle "
    "recomputes every resolved column — era routing, codec, promoted "
    "score arithmetic, alias-recovered name bytes, default "
    "materialization, enum re-match — from the staging formulas. An "
    "era-1 value that cannot resolve (or a reader field with no "
    "default) raises per record. Scale: identical to "
    "multimodal_avro_ingest — per-record container walk in the Arrow "
    "kernel, resolution adds only per-field dictionary lookups.",
)
def multimodal_avro_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "avro_era_files", "avro", _render_avro_era
    )
    bf = (
        read_blobs(spark, path, "avro")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.avro$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.avro import read_avro

        for b in batches:
            out = {
                "doc_id": [], "era": [], "codec": [], "n_records": [],
                "kind": [], "score": [], "lang": [], "n_tags": [],
                "name_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                did = int(doc_id)
                schema, codec, recs = read_avro(
                    bytes(content), reader_schema_json=_AVRO_ERA2_SCHEMA
                )
                out["doc_id"].append(did)
                # era derived from the shard's own writer schema, not
                # the id parity — proof the container carried it
                out["era"].append(
                    1 if '"name":"title"' in schema else 2
                )
                out["codec"].append(codec)
                out["n_records"].append(len(recs))
                out["kind"].append(recs[0]["kind"])
                out["score"].append(float(recs[0]["score"]))
                out["lang"].append(recs[0]["lang"])
                out["n_tags"].append(len(recs[0]["tags"]))
                out["name_exact"].append(
                    1 if recs[0]["name"] == text[:12]
                    and recs[1]["name"] == text[:5] else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, era int, codec string, n_records int, "
        "kind string, score double, lang string, n_tags int, "
        "name_exact int",
    )
def _render_sqlite(doc_id: int, text: str) -> bytes:
    import os
    import sqlite3
    import tempfile

    fd, p = tempfile.mkstemp(suffix=".db")
    os.close(fd)
    os.unlink(p)
    con = sqlite3.connect(p)
    con.execute("PRAGMA page_size=512")  # force interior pages + overflow
    con.execute(
        "CREATE TABLE messages (id INTEGER PRIMARY KEY, body TEXT, "
        "score REAL, flag INT)"
    )
    con.executemany(
        "INSERT INTO messages VALUES (?,?,?,?)",
        [
            (1, text, doc_id / 4.0, doc_id % 2),
            (2, text[:10], 0.5, 0),
            (3, None, None, 1),
        ],
    )
    con.commit()
    con.close()
    blob = open(p, "rb").read()
    os.unlink(p)
    return blob
@register(
    "multimodal_sqlite_ingest",
    oracle="""
    SELECT doc_id,
      3 AS n_rows,
      length(text) AS body_chars,
      CAST(doc_id % 2 AS INT) AS flag_sum_row1,
      1 AS null_body_rows,
      1 AS text_exact
    FROM documents
    """,
    doc="SQLite database-file ingestion (operators/sqlite.py, own "
    "reader of the published sqlite.org file format) — app exports, "
    "chat-log backups, and annotation dumps ship as .db blobs, and a "
    "pipeline reading them from an object store cannot shell out to a "
    "database engine per record. The staged databases are written by "
    "the INDEPENDENT CPython sqlite3 engine (512-byte pages force "
    "interior B-tree pages AND overflow chains on every document-"
    "length body); extraction walks header -> sqlite_schema -> table "
    "B-tree -> records with the serial-type codec, the spec's "
    "local-payload K formula for overflow splits (off-by-one "
    "truncates silently), and the INTEGER-PRIMARY-KEY rowid alias "
    "(the key column is NULL in the record itself). The oracle "
    "demands byte-exact body text plus row/NULL accounting. WAL and "
    "index B-trees are documented seams. Scale: per-record page walk "
    "in the Arrow kernel — the database is the record.",
)
def multimodal_sqlite_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "sqlite_files", "db", _render_sqlite
    )
    bf = (
        read_blobs(spark, path, "db")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.db$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.sqlite import read_sqlite_table

        for b in batches:
            out = {
                "doc_id": [], "n_rows": [], "body_chars": [],
                "flag_sum_row1": [], "null_body_rows": [], "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                rows = read_sqlite_table(bytes(content), "messages")
                by_id = {r[0]: r for r in rows}
                out["doc_id"].append(int(doc_id))
                out["n_rows"].append(len(rows))
                out["body_chars"].append(
                    len(by_id[1][1]) if by_id[1][1] else 0
                )
                out["flag_sum_row1"].append(int(by_id[1][3]))
                out["null_body_rows"].append(
                    sum(1 for r in rows if r[1] is None)
                )
                out["text_exact"].append(
                    1 if by_id[1][1] == text and by_id[2][1] == text[:10]
                    else 0
                )
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_rows int, body_chars long, "
        "flag_sum_row1 int, null_body_rows int, text_exact int",
    )
def _render_sqlite_wal(doc_id: int, text: str) -> list:
    import shutil
    import sqlite3
    import tempfile

    d = tempfile.mkdtemp()
    p = os.path.join(d, "x.db")
    con = sqlite3.connect(p)
    con.execute("PRAGMA page_size=512")
    con.execute("CREATE TABLE docs (id INTEGER PRIMARY KEY, body TEXT)")
    con.execute("INSERT INTO docs VALUES (1, ?)", (text[:40],))
    con.execute("INSERT INTO docs VALUES (2, ?)", (text[40:80],))
    con.commit()
    con.execute("PRAGMA journal_mode=WAL")
    for i in range(1 + doc_id % 3):
        con.execute(
            "INSERT INTO docs VALUES (?, ?)",
            (3 + i, text[80 + 20 * i : 100 + 20 * i]),
        )
        con.commit()
    # capture BOTH files while the connection is open: closing
    # checkpoints the WAL into the main file and deletes the sidecar —
    # which is exactly why a database copied LIVE ships a -wal
    with open(p, "rb") as fh:
        db = fh.read()
    with open(p + "-wal", "rb") as fh:
        wal = fh.read()
    con.close()
    shutil.rmtree(d)
    return [(f"{doc_id}.db", db), (f"{doc_id}.wal", wal)]
@register(
    "multimodal_sqlite_wal_ingest",
    oracle="""
    SELECT doc_id,
      CAST(3 + doc_id % 3 AS INT) AS n_rows,
      CAST(1 + doc_id % 3 AS INT) AS wal_rows,
      CAST(least(length(text), 80 + 20 * (1 + doc_id % 3)) AS BIGINT)
        AS body_chars,
      1 AS text_exact
    FROM documents
    """,
    doc="SQLite WAL-sidecar ingestion (operators/sqlite.py apply_wal, "
    "r11 verdict #9): a .db snapshotted mid-write — the 'chat backup "
    "copied live' case — ships a -wal file whose COMMITTED frames "
    "hold the newest page images; reading the main file alone sees a "
    "stale base era. Each document stages as a REAL (db, wal) pair "
    "written by the independent CPython sqlite3 engine: the base two "
    "rows committed in rollback mode (so they land in the main file), "
    "then journal_mode=WAL and 1..3 per-row commits captured in the "
    "sidecar before close (close would checkpoint and delete it). "
    "Ingestion joins the two binaryFile scans per doc_id, validates "
    "the WAL header checksum, walks frames with salt matching and the "
    "spec's CUMULATIVE rolling checksum, keeps pages only through the "
    "last commit frame, overlays them, and reads the effective "
    "database with the ordinary B-tree walk. wal_rows counts rows "
    "visible ONLY through the sidecar — the oracle recomputes it from "
    "the staging formula, so skipping the WAL (or applying an "
    "uncommitted tail) flips the hash; byte-exact body recovery is "
    "demanded per row. Torn tails, salt mismatches, and header damage "
    "are loud or safely prefix-bounded per the WAL design "
    "(tests/test_sqlite.py, cross-validated against sqlite3's own "
    "recovery of the same pair). Scale: the sidecar-join ingest "
    "shape — two binaryFile listings equi-joined on the key, decode "
    "map-side, no payload shuffle.",
)
def multimodal_sqlite_wal_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "sqlite_wal_files", None, _render_sqlite_wal
    )

    def scan(ext: str, col: str):
        return (
            read_blobs(spark, path, ext)
            .select(
                F.regexp_extract(F.col("path"), rf"(\d+)\.{ext}$", 1)
                .cast("long")
                .alias("doc_id"),
                F.col("content").alias(col),
            )
        )

    bf = scan("db", "db_bytes").join(scan("wal", "wal_bytes"), "doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.sqlite import apply_wal, read_sqlite_table

        for b in batches:
            out = {
                "doc_id": [], "n_rows": [], "wal_rows": [],
                "body_chars": [], "text_exact": [],
            }
            for doc_id, db, wal, text in zip(
                b["doc_id"], b["db_bytes"], b["wal_bytes"], b["text"]
            ):
                did = int(doc_id)
                rows = read_sqlite_table(
                    apply_wal(bytes(db), bytes(wal)), "docs"
                )
                base = read_sqlite_table(bytes(db), "docs")
                bodies = {r[0]: r[1] for r in rows}
                exp = {1: text[:40], 2: text[40:80]}
                for i in range(1 + did % 3):
                    exp[3 + i] = text[80 + 20 * i : 100 + 20 * i]
                out["doc_id"].append(did)
                out["n_rows"].append(len(rows))
                out["wal_rows"].append(len(rows) - len(base))
                out["body_chars"].append(
                    sum(len(v) for v in bodies.values())
                )
                out["text_exact"].append(1 if bodies == exp else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_rows int, wal_rows int, body_chars long, "
        "text_exact int",
    )
_MIXED_EXTS = ("pdf", "docx", "epub", "rtf", "mbox")
def _render_mixed_doc(doc_id: int, text: str) -> bytes:
    kind = _MIXED_EXTS[doc_id % 5]
    if kind == "pdf":
        return _render_pdf(doc_id, text)
    if kind == "docx":
        return _render_docx(doc_id, text)
    if kind == "epub":
        return _render_epub(doc_id, text)
    if kind == "rtf":
        return _render_rtf(doc_id, text)
    return _render_mbox(doc_id, text)
def _stage_mixed_docs(spark: SparkSession, sf_dir: str) -> str:
    """One file per document, the EXTENSION cycling across five real
    formats — the heterogeneous bucket shape."""
    return stage_doc_files(
        spark, sf_dir, "mixed_docs", None,
        lambda doc_id, text: [
            (f"{doc_id}.{_MIXED_EXTS[doc_id % 5]}", _render_mixed_doc(doc_id, text))
        ],
    )
def _extract_any_document(ext: str, payload: bytes) -> str:
    """The extension-dispatched extraction kernel: every format routes
    to its own parser, every parser returns the document's full text."""
    if ext == "pdf":
        from ...operators.pdf import extract_pdf_text

        return "".join(ln for pg in extract_pdf_text(payload) for ln in pg)
    if ext == "docx":
        from ...operators.ooxml import extract_docx_text

        return "".join(extract_docx_text(payload))
    if ext == "epub":
        from ...operators.epub import extract_epub_text

        return "".join(
            p for ch in extract_epub_text(payload) for p in ch
        )
    if ext == "rtf":
        from ...operators.rtf import extract_rtf_text

        return "".join(extract_rtf_text(payload))
    if ext == "mbox":
        from ...operators.mail import parse_message, split_mbox

        msgs = [parse_message(m) for m in split_mbox(payload)]
        for m in msgs:
            for part in m["parts"]:
                if part["media"] == "text/plain":
                    return part["text"]
        raise ValueError("mixed: mbox carries no text/plain part")
    raise ValueError(f"mixed: unknown document extension {ext!r}")
@register(
    "pipeline_document_corpus_mixed",
    oracle="""
    SELECT
      CASE doc_id % 5 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
           WHEN 2 THEN 'epub' WHEN 3 THEN 'rtf' ELSE 'mbox' END AS format,
      count(*) AS n_docs,
      CAST(sum(length(text)) AS BIGINT) AS total_chars,
      count(*) AS n_exact
    FROM documents
    GROUP BY 1
    """,
    doc="The heterogeneous-bucket capstone — what a real document "
    "corpus actually looks like: ONE ingest over a directory whose "
    "files cycle five formats (PDF, DOCX, EPUB, RTF, mbox mail), "
    "dispatched by extension inside one Arrow kernel to five own "
    "parsers, each recovering the document's full text BYTE-EXACTLY "
    "(n_exact must equal n_docs per format or the hash fails). This "
    "is the query a user of a document pipeline runs on day one; "
    "every format-specific family above it exists so that this one "
    "works. Scale: binaryFile scan -> map-side dispatch kernel -> one "
    "tiny per-format aggregate; fault isolation is per record by "
    "construction (each parser raises per document), and at 100 TB "
    "the extension dispatch costs nothing while the per-format "
    "aggregate shuffles five rows.",
)
def pipeline_document_corpus_mixed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_mixed_docs(spark, sf_dir)
    bf = (
        read_blobs(spark, path, glob="*.*")  # not the staging marker
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.\w+$", 1)
            .cast("long")
            .alias("doc_id"),
            F.regexp_extract(F.col("path"), r"\.(\w+)$", 1).alias("ext"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        for b in batches:
            out = {"format": [], "n_chars": [], "exact": []}
            for ext, content, text in zip(
                b["ext"], b["content"], b["text"]
            ):
                rebuilt = _extract_any_document(ext, bytes(content))
                out["format"].append(ext)
                out["n_chars"].append(len(rebuilt))
                out["exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    per_doc = joined.mapInPandas(
        op, schema="format string, n_chars long, exact int"
    )
    return per_doc.groupBy("format").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("exact").alias("n_exact"),
    )
def _decode_mbox_frame(frame: DataFrame) -> DataFrame:
    def op(batches):
        import re as _re

        import pandas as pd

        from ...operators.mail import parse_message, split_mbox

        for b in batches:
            out = {"doc_id": [], "n_msgs": [], "n_chars": []}
            for p, content in zip(b["path"], b["content"]):
                msgs = [
                    parse_message(m) for m in split_mbox(bytes(content))
                ]
                plains = [
                    pt for m in msgs for pt in m["parts"]
                    if pt["media"] == "text/plain"
                ]
                out["doc_id"].append(
                    int(_re.search(r"(\d+)\.mbox$", p).group(1))
                )
                out["n_msgs"].append(len(msgs))
                out["n_chars"].append(
                    len(plains[0]["text"]) if plains else 0
                )
            yield pd.DataFrame(out)

    return frame.mapInPandas(
        op, schema="doc_id long, n_msgs int, n_chars long"
    )
@register(
    "stream_mail_ingest",
    oracle="""
    SELECT doc_id, 2 AS n_msgs, length(text) AS n_chars
    FROM documents
    """,
    doc="STREAMING mail-archive ingestion — mbox is the format made "
    "for this: an append-only shard of From_-framed messages, the "
    "ur-example of a continuously-filling feed. The staged shards "
    "consume through readStream binaryFile with maxFilesPerTrigger-"
    "bounded micro-batches, parse per batch through the SAME "
    "RFC 5322/MIME kernel as pipeline_mail_extract (header unfolding, "
    "encoded-words, multipart walk, QP/base64, charset), append to a "
    "parquet target through the checkpoint, and the accumulated "
    "target must hash-equal the batch extraction. Completes the mail "
    "family's operational story beside the batch capstone.",
)
def stream_mail_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ...session import ensure_session_confs

    ensure_session_confs(spark)
    feed = stage_doc_files(
        spark, sf_dir, "mbox_files", "mbox", _render_mbox
    )
    target = run_dir("mbox_stream_target", sf_dir)
    chk = run_dir("mbox_stream_chk", sf_dir)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.mbox")
        .option("maxFilesPerTrigger", 200)
        .load(feed)
        .select("path", "content")
    )

    def ingest(batch_df: DataFrame, _batch_id: int) -> None:
        _decode_mbox_frame(batch_df).write.mode("append").parquet(target)

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
def _render_latex(doc_id: int, text: str) -> bytes:
    from ...operators.latex import write_latex

    return write_latex(_docx_paragraphs(text), doc_id=doc_id).encode("utf-8")
@register(
    "pipeline_latex_extract",
    oracle=f"""
    SELECT doc_id,
      CAST(greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
        AS INT) AS n_paras,
      length(text) AS n_chars,
      2 AS n_math,
      1 AS n_comments,
      1 AS text_exact
    FROM documents
    """,
    doc="LaTeX de-markup text extraction (operators/latex.py) — the "
    "arXiv slice every pretraining mix names ships as LaTeX source, "
    "and its curation step is de-markup: each document stages as a "
    ".tex whose prose rides through the constructs naive strippers "
    "garble — the preamble (must not leak 'article'/'amsmath' into "
    "prose), unescaped-% comments vs \\\\% literals, commands that "
    "swallow following whitespace (the TeX rule), metadata arguments "
    "dropped vs styling arguments KEPT (\\\\textbf{{x}} -> x), inline "
    "and display math segments dropped but COUNTED (the math-density "
    "signal), \\\\verb payloads verbatim. The oracle demands exact "
    "paragraph recovery plus the math/comment accounting; "
    "unterminated math/verb and cross-file \\\\input raise per "
    "record. Scale: one linear scan per record in the Arrow kernel, "
    "like every document family.",
)
def pipeline_latex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "latex_files", "tex", _render_latex
    )
    bf = (
        read_blobs(spark, path, "tex")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.tex$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.latex import extract_latex_text

        for b in batches:
            out = {
                "doc_id": [], "n_paras": [], "n_chars": [], "n_math": [],
                "n_comments": [], "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                r = extract_latex_text(bytes(content).decode("utf-8"))
                paras = [
                    ln for ln in r["text"].split("\n") if ln.strip()
                ]
                rebuilt = "".join(paras)
                out["doc_id"].append(int(doc_id))
                out["n_paras"].append(len(paras))
                out["n_chars"].append(len(rebuilt))
                out["n_math"].append(r["n_math"])
                out["n_comments"].append(r["n_comments"])
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_paras int, n_chars long, n_math int, "
        "n_comments int, text_exact int",
    )
def _render_markdown(doc_id: int, text: str) -> bytes:
    from ...operators.markdown import write_markdown

    return write_markdown(
        _docx_paragraphs(text), doc_id=doc_id
    ).encode("utf-8")
@register(
    "pipeline_markdown_extract",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text,
             greatest(1, (length(text) + {_PDF_LINE - 1}) // {_PDF_LINE})
               AS n_paras
      FROM documents)
    SELECT doc_id,
      CAST(n_paras AS INT) AS n_paras,
      length(text) AS n_chars,
      CAST((n_paras + 4) // 5 AS INT) AS n_headers,
      CAST(n_paras // 5 AS INT) AS n_links,
      CAST(7 + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS code_chars,
      1 AS text_exact
    FROM b
    """,
    doc="Markdown de-markup text extraction (operators/markdown.py, "
    "CommonMark structure) — the documentation half of every code "
    "corpus (READMEs, wikis, docs sites): each document stages as .md "
    "whose paragraphs rotate through header / bold / blockquote / "
    "list / link constructs plus one fenced code block, and "
    "extraction handles what a naive regex pass garbles — the fence "
    "STATE MACHINE (code content separated and counted, never treated "
    "as prose; inline backticks never open fences; an unclosed fence "
    "raises), links/images keeping text and dropping urls, "
    "reference-definition lines dropped as metadata, inline code "
    "protected BEFORE emphasis unwrapping, setext underlines promoting "
    "the prior line to a counted header. The oracle demands exact "
    "paragraph recovery plus header/link/code accounting. Scale: one "
    "linear scan per record in the Arrow kernel.",
)
def pipeline_markdown_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "markdown_files", "md", _render_markdown
    )
    bf = (
        read_blobs(spark, path, "md")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.md$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    joined = bf.join(docs, "doc_id")

    def op(batches):
        import pandas as pd

        from ...operators.markdown import extract_markdown_text

        for b in batches:
            out = {
                "doc_id": [], "n_paras": [], "n_chars": [],
                "n_headers": [], "n_links": [], "code_chars": [],
                "text_exact": [],
            }
            for doc_id, content, text in zip(
                b["doc_id"], b["content"], b["text"]
            ):
                r = extract_markdown_text(bytes(content).decode("utf-8"))
                paras = [
                    ln for ln in r["text"].split("\n") if ln.strip()
                ]
                rebuilt = "".join(paras)
                out["doc_id"].append(int(doc_id))
                out["n_paras"].append(len(paras))
                out["n_chars"].append(len(rebuilt))
                out["n_headers"].append(r["n_headers"])
                out["n_links"].append(r["n_links"])
                out["code_chars"].append(r["code_chars"])
                out["text_exact"].append(1 if rebuilt == text else 0)
            yield pd.DataFrame(out)

    return joined.mapInPandas(
        op,
        schema="doc_id long, n_paras int, n_chars long, n_headers int, "
        "n_links int, code_chars bigint, text_exact int",
    )

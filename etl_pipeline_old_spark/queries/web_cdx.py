"""CDX-indexed WARC range reads — the web-archive twin of the
wikidump/xz index-driven plans (compressed_shards.py) and the r13
verdict's #2 task.

Real web archives (Common Crawl, Internet Archive) ship every capture
as its OWN gzip member inside the .warc.gz plus a CDX(J) sidecar of
``urlkey timestamp {json}`` lines whose JSON carries the member's
(offset, length, filename) — exactly so a reader can touch ONE page
without decompressing the archive.  At 100 TB that sidecar-driven
range read is the only sane access path: the bulk archives must never
flow through a scan.  This module stages that layout with the repo's
own WARC writer (operators/warc.py — per-record gzip members, the CC
shard shape already cross-checked in warc_web_ingest) and ingests it
the CDX way:

1. ONLY the tiny ``*.cdx.gz`` sidecars enter a scan (``spark.read
   .text`` — the gzip codec and the line framing are both JVM-side).
2. CDXJ lines parse PURE-RELATIONALLY: split urlkey/timestamp/json,
   ``from_json`` for the payload, casts for the offset/length strings
   (CC writes them as JSON strings), the archive path derived from the
   filename field — no Python touches the index.
3. One task per capture RANGE-READS its gzip member (seek + exact
   length), gunzips it standalone, parses the single WARC record, and
   verifies the CDX digest (sha1, Base32 like CC's) against the
   recovered payload.

The plan is LOCKED by tests/test_plans.py::test_cdx_range_ingest_scans_
only_the_index: every FileScan in the physical plan reads ``.cdx.gz``
paths only — the .warc.gz archives appear in no scan at all (their
path reaches the kernel as a derived STRING column).  Every 50th
capture stages with its member's deflate bytes corrupted in place
(same length, later offsets undisturbed — the bit-rot shape), and the
kernel keeps that loss to one record.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import register
from ..sources.files import read_blobs
from ..workdir import stage_fixture, write_atomic

_CDX_DOCS_PER_FILE = 100
_CDX_TORN_MOD = 50
_CDX_404_MOD = 7


def _cdx_digest(payload: bytes) -> str:
    """CC-style content digest: sha1 of the payload, RFC 4648 Base32."""
    import base64
    import hashlib

    return base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")


def _stage_cdx_warc(
    spark: SparkSession, sf_dir: str, body_repeat: int = 1, kind: str = "cdx_warc"
) -> str:
    """Per part: ``crawl-{pid}.warc.gz`` (one gzip member per response
    record, warcinfo member first — the CC layout) beside
    ``crawl-{pid}.cdx.gz`` (CDXJ: SURT urlkey, 14-digit timestamp,
    compact JSON with url/status/digest/length/offset/filename as CC
    writes them — offset/length as JSON STRINGS).  Every 50th capture's
    member has one deflate byte flipped in place: the length is
    unchanged (later offsets stay honest), the gunzip fails — bit rot,
    not truncation.  ``body_repeat`` inflates each body (tools/
    cdx_probe.py stages CC-realistic page sizes that way; the query
    itself uses 1)."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .withColumn(
                "part",
                F.floor(F.col("doc_id") / _CDX_DOCS_PER_FILE).cast("int"),
            )
        )

        def write_part(pdf):
            import json as _json

            import pandas as pd

            from ..operators.warc import (
                encode_http_response,
                encode_warc_record,
                gzip_member,
            )

            pdf = pdf.sort_values("doc_id")
            pid = int(pdf["part"].iloc[0])
            warc_name = f"crawl-{pid:04d}.warc.gz"
            blob = bytearray(
                gzip_member(
                    encode_warc_record(
                        "warcinfo",
                        {"WARC-Filename": warc_name},
                        b"software: etl-pipeline-old-spark\r\n",
                    )
                )
            )
            cdx_lines = []
            for r in pdf.itertuples():
                did = int(r.doc_id)
                uri = f"https://example.org/doc/{did}"
                status = 404 if did % _CDX_404_MOD == 0 else 200
                btext = r.text
                if body_repeat > 1:
                    # deterministic hex filler, not repetition — gzip
                    # must not collapse the probe corpus to nothing
                    import hashlib as _hl

                    need = len(r.text) * (body_repeat - 1)
                    chunks, i = [], 0
                    while need > 0:
                        h = _hl.sha256(f"{did}:{i}".encode()).hexdigest()
                        chunks.append(h)
                        need -= len(h)
                        i += 1
                    btext = r.text + "".join(chunks)
                body = btext.encode("utf-8")
                member = gzip_member(
                    encode_warc_record(
                        "response",
                        {"WARC-Target-URI": uri},
                        encode_http_response(body, status=status),
                    )
                )
                if did % _CDX_TORN_MOD == 0:
                    # flip one byte mid-deflate: same length, dead CRC
                    mid = len(member) // 2
                    member = (
                        member[:mid]
                        + bytes([member[mid] ^ 0xFF])
                        + member[mid + 1 :]
                    )
                host_key = "org,example"
                cdx_lines.append(
                    f"{host_key})/doc/{did} 20260101000000 "
                    + _json.dumps(
                        {
                            "url": uri,
                            "mime": "text/html",
                            "status": str(status),
                            "digest": _cdx_digest(body),
                            "length": str(len(member)),
                            "offset": str(len(blob)),
                            "filename": warc_name,
                        },
                        separators=(",", ":"),
                        sort_keys=True,
                    )
                )
                blob += member
            import gzip as _gzip

            cdx_blob = _gzip.compress(
                ("\n".join(cdx_lines) + "\n").encode("utf-8"), mtime=0
            )
            for name, payload in (
                (warc_name, bytes(blob)),
                (f"crawl-{pid:04d}.cdx.gz", cdx_blob),
            ):
                write_atomic(path, name, payload)
            return pd.DataFrame({"part": [pid], "n": [len(pdf)]})

        d.groupBy("part").applyInPandas(write_part, "part int, n int").collect()

    return stage_fixture(kind, sf_dir, build)


_CDXJ_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("digest", T.StringType()),
        T.StructField("length", T.StringType()),
        T.StructField("offset", T.StringType()),
        T.StructField("filename", T.StringType()),
    ]
)


def _cdx_ranges(spark: SparkSession, path: str) -> DataFrame:
    """The pure-JVM CDX parse: sidecar lines -> one row per capture
    with (archive_path, offset, length, url, doc_id, cdx_status,
    digest).  The archives themselves are touched by NO scan — their
    path is a derived string column."""
    lines = (
        spark.read.option("pathGlobFilter", "*.cdx.gz")
        .text(path)
        .where(F.length("value") > 0)
    )
    parts = F.split(F.col("value"), " ", 3)
    j = F.from_json(parts[2], _CDXJ_SCHEMA)
    return (
        lines.select(
            parts[0].alias("urlkey"),
            parts[1].alias("ts"),
            j.alias("j"),
        )
        .select(
            "urlkey",
            "ts",
            F.col("j.url").alias("url"),
            F.col("j.status").cast("int").alias("cdx_status"),
            F.col("j.digest").alias("digest"),
            F.col("j.length").cast("long").alias("length"),
            F.col("j.offset").cast("long").alias("offset"),
            F.concat(F.lit(path + "/"), F.col("j.filename")).alias(
                "archive_path"
            ),
            F.regexp_extract(F.col("j.url"), r"/doc/(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
        )
    )


@register(
    "web_cdx_range_ingest",
    oracle=f"""
    SELECT doc_id,
           (doc_id % {_CDX_TORN_MOD} != 0) AS ok,
           CASE WHEN doc_id % {_CDX_TORN_MOD} != 0
                THEN CASE WHEN doc_id % {_CDX_404_MOD} = 0
                          THEN 404 ELSE 200 END
                ELSE NULL END AS status,
           CASE WHEN doc_id % {_CDX_TORN_MOD} != 0
                THEN length(text) ELSE NULL END AS n_chars,
           CASE WHEN doc_id % {_CDX_TORN_MOD} != 0
                THEN 1 ELSE NULL END AS digest_ok,
           CASE WHEN doc_id % {_CDX_TORN_MOD} != 0
                THEN 1 ELSE NULL END AS uri_exact
    FROM documents
    """,
    doc="CDX-indexed WARC range reads (r13 verdict #2) — how a 100 TB "
    "web archive is actually touched: captures stage as per-record "
    "gzip members (the CC .warc.gz layout, own writer) beside CDXJ "
    "sidecars whose JSON carries each member's offset/length/filename "
    "as strings, exactly as Common Crawl publishes them. ONLY the "
    "tiny .cdx.gz sidecars enter a scan (plan-locked: every FileScan "
    "in the physical plan reads .cdx.gz paths; the archives appear in "
    "no scan — their path reaches the kernel as a derived string "
    "column); the CDXJ parse is pure JVM (split + from_json + casts), "
    "and one task per capture seeks its exact member range, gunzips "
    "it STANDALONE, parses the single WARC record, and re-verifies "
    "the CDX sha1/Base32 content digest against the recovered "
    "payload — so a wrong offset, a fused member, or a corrupted "
    "body cannot pass. Status codes cycle 200/404 through the "
    "sidecar and must match the HTTP status line byte-for-byte. "
    "Every 50th capture stages BIT-ROTTED (one deflate byte flipped "
    "in place — length unchanged, later offsets honest) and must "
    "quarantine as one record with its URL kept from the index. "
    "Scale: the sidecar scan is ~0.1% of archive bytes; range reads "
    "fan out one capture per row with no decompression coupling — "
    "the same discipline as the wikidump/xz block plans.",
)
def web_cdx_range_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_cdx_warc(spark, sf_dir)
    ranges = _cdx_ranges(spark, path)

    def fetch(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_responses

        for pdf in batches:
            out = {"doc_id": [], "ok": [], "status": [], "n_chars": [],
                   "digest_ok": [], "uri_exact": []}
            for did, ap, off, ln, url, cdx_status, digest in zip(
                pdf["doc_id"], pdf["archive_path"], pdf["offset"],
                pdf["length"], pdf["url"], pdf["cdx_status"],
                pdf["digest"],
            ):
                out["doc_id"].append(int(did))
                local = ap.replace("file:", "")
                with open(local, "rb") as fh:
                    fh.seek(int(off))
                    member = fh.read(int(ln))
                try:
                    if len(member) < int(ln):
                        raise ValueError("cdx: member range past EOF")
                    recs = list(iter_warc_responses(member))
                    if len(recs) != 1:
                        raise ValueError(
                            f"cdx: expected 1 record, got {len(recs)}"
                        )
                    uri, status, body = recs[0]
                    out["ok"].append(True)
                    out["status"].append(status)
                    out["n_chars"].append(
                        len(body.decode("utf-8"))
                    )
                    out["digest_ok"].append(
                        1 if _cdx_digest(body) == digest
                        and status == int(cdx_status) else 0
                    )
                    out["uri_exact"].append(1 if uri == url else 0)
                except (ValueError, NotImplementedError):
                    out["ok"].append(False)
                    out["status"].append(None)
                    out["n_chars"].append(None)
                    out["digest_ok"].append(None)
                    out["uri_exact"].append(None)
            yield pd.DataFrame(out)

    return ranges.mapInPandas(
        fetch,
        schema="doc_id long, ok boolean, status int, n_chars int, "
        "digest_ok int, uri_exact int",
    )


# ------------------------------------------------- revisit-record dedup

_REVISIT_MOD = 4  # every 4th capture is re-fetched -> revisit record


def _stage_revisit_warc(spark: SparkSession, sf_dir: str) -> str:
    """Per part: ``captures-{pid}.warc.gz`` (one digest-stamped
    response per doc) plus ``revisit-{pid}.warc.gz`` holding WARC 1.1
    revisit records for every 4th doc — a SEPARATE file, so resolving
    a revisit to its payload is forced to be a corpus-level join, the
    way a real crawl's storage dedup actually reads back."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .withColumn(
                "part",
                F.floor(F.col("doc_id") / _CDX_DOCS_PER_FILE).cast("int"),
            )
        )

        def write_part(pdf):
            import pandas as pd

            from ..operators.warc import (
                encode_http_response,
                encode_warc_record,
                encode_warc_revisit,
                gzip_member,
            )

            pdf = pdf.sort_values("doc_id")
            pid = int(pdf["part"].iloc[0])
            captures = bytearray()
            revisits = bytearray()
            for r in pdf.itertuples():
                did = int(r.doc_id)
                uri = f"https://example.org/doc/{did}"
                body = r.text.encode("utf-8")
                digest = _cdx_digest(body)
                captures += gzip_member(
                    encode_warc_record(
                        "response",
                        {"WARC-Target-URI": uri,
                         "WARC-Payload-Digest": f"sha1:{digest}"},
                        encode_http_response(body),
                    )
                )
                if did % _REVISIT_MOD == 0:
                    revisits += gzip_member(
                        encode_warc_revisit(
                            uri + "?refetch=1", uri, digest
                        )
                    )
            for name, blob in (
                (f"captures-{pid:04d}.warc.gz", bytes(captures)),
                (f"revisit-{pid:04d}.warc.gz", bytes(revisits)),
            ):
                if not blob:
                    continue
                write_atomic(path, name, blob)
            return pd.DataFrame({"part": [pid], "n": [len(pdf)]})

        d.groupBy("part").applyInPandas(write_part, "part int, n int").collect()

    return stage_fixture("revisit_warc", sf_dir, build)


@register(
    "warc_revisit_dedup",
    oracle=f"""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % {_REVISIT_MOD} = 0 THEN 2 ELSE 1 END
                AS INT) AS n_captures,
           CAST(CASE WHEN doc_id % {_REVISIT_MOD} = 0 THEN 1 ELSE 0 END
                AS INT) AS n_revisits,
           CASE WHEN doc_id % {_REVISIT_MOD} = 0 THEN 1 ELSE NULL END
             AS revisit_resolved,
           length(text) AS n_chars
    FROM documents
    """,
    doc="WARC 1.1 revisit-record dedup — how real crawls store a "
    "re-fetched page whose bytes they already hold (the "
    "identical-payload-digest profile): every 4th capture ships a "
    "bodyless revisit record in a SEPARATE shard, carrying only the "
    "shared sha1/Base32 payload digest and the referred capture's "
    "URI. The walk (operators/warc.py iter_warc_captures) surfaces "
    "responses and revisits as one typed stream; resolution is a "
    "corpus-level JOIN on the digest — never a per-record lookup — "
    "with the kernel recomputing each response's digest from its "
    "recovered body, so a digest, framing, or join bug flips "
    "revisit_resolved. Per-doc capture/revisit counts and the "
    "recovered text length are all oracle-recomputed. Scale: the "
    "resolution join is a hash equi-join on the digest — exactly the "
    "plan a petabyte crawl's dedup readback needs; revisit records "
    "are ~200 bytes, so the revisit side is always the small side.",
)
def warc_revisit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_revisit_warc(spark, sf_dir)
    bf = read_blobs(spark, path, "warc.gz").select("content")

    def walk(batches):
        import pandas as pd

        from ..operators.warc import iter_warc_captures

        for pdf in batches:
            out = {"rec_type": [], "doc_id": [], "digest": [],
                   "digest_ok": [], "n_chars": []}
            for blob in pdf["content"]:
                for rtype, uri, digest, refers, body in \
                        iter_warc_captures(bytes(blob)):
                    target = refers or uri
                    did = int(target.rsplit("/", 1)[1].split("?")[0])
                    out["rec_type"].append(rtype)
                    out["doc_id"].append(did)
                    out["digest"].append(digest)
                    if body is None:
                        out["digest_ok"].append(None)
                        out["n_chars"].append(None)
                    else:
                        out["digest_ok"].append(
                            1 if _cdx_digest(body) == digest else 0
                        )
                        out["n_chars"].append(
                            len(body.decode("utf-8"))
                        )
            yield pd.DataFrame(out)

    captures = bf.mapInPandas(
        walk,
        schema="rec_type string, doc_id long, digest string, "
        "digest_ok int, n_chars long",
    )
    originals = captures.where(
        (F.col("rec_type") == "response") & (F.col("digest_ok") == 1)
    ).select("digest", F.col("doc_id").alias("orig_doc"),
             F.col("n_chars").alias("orig_chars"))
    revisits = captures.where(F.col("rec_type") == "revisit")
    resolved = (
        revisits.join(originals, "digest")
        .where(F.col("doc_id") == F.col("orig_doc"))
        .groupBy("doc_id")
        .agg(F.lit(1).alias("revisit_resolved"))
    )
    agg = captures.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_captures"),
        F.sum((F.col("rec_type") == "revisit").cast("int"))
        .cast("int")
        .alias("n_revisits"),
        F.max("n_chars").alias("n_chars"),
    )
    return agg.join(resolved, "doc_id", "left").select(
        "doc_id", "n_captures", "n_revisits", "revisit_resolved",
        "n_chars",
    )

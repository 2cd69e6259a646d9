"""zstd-compressed shard ingestion — the compressor of the modern
corpus era, through the own RFC 8878 decoder (operators/zstd.py).

Two shapes, matching how zstd shards actually ship:

- ``.tar.zst`` WebDataset shards (HuggingFace's default packaging):
  whole-shard frames, one decompression per task — the ``.tar.bz2`` /
  ``.tar.xz`` family (compressed_shards.py) extended to the codec the
  stdlib lacks.  Staging alternates the two frame producers the
  differential tests pin — libzstd (pyarrow's bundled codec) and the
  own raw-block writer — so every query run re-proves both directions
  of the cross-validation in the production path.
- the zstd SEEKABLE format (public contrib spec): one big archive per
  100 documents whose tail carries a seek table of independent frames.
  This is the 100 TB shape — the xz-index / wikidump discipline for
  zstd: only 4 KiB TAILS are read to plan, frame byte-ranges come out
  relationally, and each task range-reads ONE frame.  The archive
  bytes never flow through binaryFile or a single decompressor.

Reference parity note: the reference pipeline (AtomicBim/etl-pipeline-old)
reads plain CSV/XLSX exports; compressed-shard ingest is beyond-reference
LLM-corpus surface per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..session import scan_partitions
from ..sources.files import read_blobs
from ..workdir import stage_fixture, write_atomic

_DOCS_PER_SHARD = 25
_DOCS_PER_ARCHIVE = 100
_FRAME_DOCS = 25
_TORN_MOD = 5  # global frame_idx % 5 == 3 -> the frame stages torn


# ------------------------------------------------------------ staging
def _stage_tar_zst(spark: SparkSession, sf_dir: str) -> str:
    """WebDataset ``.tar.zst`` shards: even shards libzstd-compressed
    (pyarrow's codec — reference bytes), odd shards the own raw-block
    writer (spec-legal frames any zstd consumer reads)."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .withColumn(
                "shard",
                F.floor(F.col("doc_id") / _DOCS_PER_SHARD).cast("int"),
            )
        )

        def write_shard(pdf):
            import json as json_

            import pandas as pd
            import pyarrow as pa_

            from ..operators.tar import encode_tar
            from ..operators.zstd import compress_raw_frame

            pdf = pdf.sort_values("doc_id")
            sid = int(pdf["shard"].iloc[0])
            members: list[tuple[str, bytes]] = []
            for r in pdf.itertuples():
                key = f"{int(r.doc_id):08d}"
                members.append((f"{key}.txt", r.text.encode("utf-8")))
                members.append(
                    (
                        f"{key}.json",
                        json_.dumps({"lang": r.lang}, sort_keys=True).encode(),
                    )
                )
            tar = encode_tar(members)
            if sid % 2 == 0:
                blob = bytes(pa_.Codec("zstd").compress(tar))
            else:
                blob = compress_raw_frame(tar)
            write_atomic(path, f"{sid:05d}.tar.zst", blob)
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard int, n int").collect()

    return stage_fixture("zstd_wds", sf_dir, build)


def _stage_seekable(spark: SparkSession, sf_dir: str) -> str:
    """Seekable ``.zst`` archives: one per _DOCS_PER_ARCHIVE docs, one
    NDJSON frame per _FRAME_DOCS docs, libzstd-compressed frames, the
    seek table in the tail skippable frame.  Every _TORN_MOD-th global
    frame stages TORN (a byte scribbled mid-frame) — per-frame fault
    isolation is the point of independent frames."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .withColumn(
                "part",
                F.floor(F.col("doc_id") / _DOCS_PER_ARCHIVE).cast("int"),
            )
        )

        def write_part(pdf):
            import json as json_

            import pandas as pd
            import pyarrow as pa_

            from ..operators.zstd import write_seekable

            pdf = pdf.sort_values("doc_id")
            pid = int(pdf["part"].iloc[0])
            chunks: list[bytes] = []
            frame_ids: list[int] = []
            for i in range(0, len(pdf), _FRAME_DOCS):
                rows = pdf.iloc[i : i + _FRAME_DOCS]
                lines = [
                    json_.dumps(
                        {
                            "doc_id": int(r.doc_id),
                            "lang": r.lang,
                            "text": r.text,
                        },
                        sort_keys=True,
                    )
                    for r in rows.itertuples()
                ]
                chunks.append(("\n".join(lines) + "\n").encode("utf-8"))
                frame_ids.append(int(rows["doc_id"].iloc[0]) // _FRAME_DOCS)

            codec = pa_.Codec("zstd")
            calls = iter(frame_ids)

            def comp(chunk: bytes) -> bytes:
                frame = bytearray(codec.compress(chunk))
                if next(calls) % _TORN_MOD == 3:
                    # torn: scribble a reserved frame-header bit — the
                    # deterministic loud class (libzstd frames carry no
                    # content checksum by default, so a mid-payload flip
                    # could decode SILENTLY wrong; header damage cannot)
                    frame[4] |= 0x08
                return bytes(frame)

            blob = write_seekable(chunks, compress=comp)
            write_atomic(path, f"corpus-{pid:04d}.zst", blob)
            return pd.DataFrame({"part": [pid], "n": [len(pdf)]})

        d.groupBy("part").applyInPandas(write_part, "part int, n int").collect()

    return stage_fixture("zstd_seek", sf_dir, build)


# ------------------------------------------------------------ queries
@register(
    "multimodal_zstd_shards_ingest",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN (doc_id // {_DOCS_PER_SHARD}) % 2 = 0
                THEN 'libzstd' ELSE 'raw' END AS writer,
           2 AS n_members, 1 AS text_exact, lang
    FROM documents
    """,
    doc="WebDataset .tar.zst shards — HuggingFace's default corpus "
    "packaging, for the codec CPython does not ship: whole-shard "
    "frames decoded by the OWN RFC 8878 decoder (operators/zstd.py), "
    "then the same ustar walk as the .tar.bz2/.tar.xz family. Staging "
    "alternates libzstd frames (even shards — reference bytes through "
    "the own decoder) with own raw-block frames (odd shards — own "
    "bytes any zstd consumer reads), so every run of this query IS "
    "the two-way cross-validation in the production path. Scale "
    "shape: shard = decompression unit, shards decode in parallel in "
    "one Arrow kernel; caption text byte-exact, member completeness "
    "and metadata lang value-checked by the oracle.",
)
def multimodal_zstd_shards_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_tar_zst(spark, sf_dir)
    shards = read_blobs(spark, path, "tar.zst").select("path", "content")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("want_text")
    )

    def kernel(batches):
        import json as json_
        import os as os_

        import pandas as pd

        from ..operators.tar import iter_tar
        from ..operators.compression import decompress

        for pdf in batches:
            out = {"doc_id": [], "writer": [], "n_members": [],
                   "got_text": [], "lang": []}
            for p, blob in zip(pdf["path"], pdf["content"]):
                sid = int(os_.path.basename(p).split(".")[0])
                writer = "libzstd" if sid % 2 == 0 else "raw"
                members = {
                    name: data
                    for name, data in iter_tar(decompress("zstd", bytes(blob)))
                }
                keys = sorted({n.split(".")[0] for n in members})
                for key in keys:
                    txt = members.get(f"{key}.txt")
                    meta = members.get(f"{key}.json")
                    out["doc_id"].append(int(key))
                    out["writer"].append(writer)
                    out["n_members"].append(
                        int(txt is not None) + int(meta is not None)
                    )
                    out["got_text"].append(
                        txt.decode("utf-8") if txt is not None else None
                    )
                    out["lang"].append(
                        json_.loads(meta)["lang"] if meta is not None else None
                    )
            yield pd.DataFrame(out)

    decoded = shards.mapInPandas(
        kernel,
        schema="doc_id long, writer string, n_members int, "
        "got_text string, lang string",
    )
    return (
        decoded.join(F.broadcast(docs), "doc_id")
        .select(
            "doc_id",
            "writer",
            "n_members",
            (F.col("got_text") == F.col("want_text"))
            .cast("int")
            .alias("text_exact"),
            "lang",
        )
        .orderBy("doc_id")
    )


def _stage_tar_lz4(spark: SparkSession, sf_dir: str) -> str:
    """WebDataset ``.tar.lz4`` shards: even shards libzlz4 frames
    (pyarrow's codec), odd shards the own all-literal frame writer."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .withColumn(
                "shard",
                F.floor(F.col("doc_id") / _DOCS_PER_SHARD).cast("int"),
            )
        )

        def write_shard(pdf):
            import json as json_

            import pandas as pd
            import pyarrow as pa_

            from ..operators.lz4 import compress_frame_literal
            from ..operators.tar import encode_tar

            pdf = pdf.sort_values("doc_id")
            sid = int(pdf["shard"].iloc[0])
            members: list[tuple[str, bytes]] = []
            for r in pdf.itertuples():
                key = f"{int(r.doc_id):08d}"
                members.append((f"{key}.txt", r.text.encode("utf-8")))
                members.append(
                    (
                        f"{key}.json",
                        json_.dumps({"lang": r.lang}, sort_keys=True).encode(),
                    )
                )
            tar = encode_tar(members)
            if sid % 2 == 0:
                blob = bytes(pa_.Codec("lz4").compress(tar))
            else:
                blob = compress_frame_literal(tar)
            write_atomic(path, f"{sid:05d}.tar.lz4", blob)
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard int, n int").collect()

    return stage_fixture("lz4_wds", sf_dir, build)


@register(
    "multimodal_lz4_shards_ingest",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN (doc_id // {_DOCS_PER_SHARD}) % 2 = 0
                THEN 'liblz4' ELSE 'raw' END AS writer,
           2 AS n_members, 1 AS text_exact, lang
    FROM documents
    """,
    doc="WebDataset .tar.lz4 shards — the fourth compressed-shard "
    "container (after .tar.bz2/.tar.xz/.tar.zst), through the own LZ4 "
    "frame decoder (operators/lz4.py). Staging alternates libzlz4 "
    "frames (even shards — reference bytes, block-LINKED) with own "
    "all-literal frames (odd shards — bytes any lz4 consumer reads), "
    "so every run is the two-way cross-validation in the production "
    "path; same ustar walk and per-sample oracle as the zstd leg.",
)
def multimodal_lz4_shards_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_tar_lz4(spark, sf_dir)
    shards = read_blobs(spark, path, "tar.lz4").select("path", "content")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("want_text")
    )

    def kernel(batches):
        import json as json_
        import os as os_

        import pandas as pd

        from ..operators.lz4 import decompress_frame
        from ..operators.tar import iter_tar

        for pdf in batches:
            out = {"doc_id": [], "writer": [], "n_members": [],
                   "got_text": [], "lang": []}
            for p, blob in zip(pdf["path"], pdf["content"]):
                sid = int(os_.path.basename(p).split(".")[0])
                writer = "liblz4" if sid % 2 == 0 else "raw"
                members = {
                    name: data
                    for name, data in iter_tar(decompress_frame(bytes(blob)))
                }
                for key in sorted({n.split(".")[0] for n in members}):
                    txt = members.get(f"{key}.txt")
                    meta = members.get(f"{key}.json")
                    out["doc_id"].append(int(key))
                    out["writer"].append(writer)
                    out["n_members"].append(
                        int(txt is not None) + int(meta is not None)
                    )
                    out["got_text"].append(
                        txt.decode("utf-8") if txt is not None else None
                    )
                    out["lang"].append(
                        json_.loads(meta)["lang"] if meta is not None else None
                    )
            yield pd.DataFrame(out)

    decoded = shards.mapInPandas(
        kernel,
        schema="doc_id long, writer string, n_members int, "
        "got_text string, lang string",
    )
    return (
        decoded.join(F.broadcast(docs), "doc_id")
        .select(
            "doc_id",
            "writer",
            "n_members",
            (F.col("got_text") == F.col("want_text"))
            .cast("int")
            .alias("text_exact"),
            "lang",
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_zstd_seekable_ranged",
    oracle=f"""
    SELECT doc_id,
           ((doc_id // {_FRAME_DOCS}) % {_TORN_MOD} != 3) AS ok,
           CASE WHEN (doc_id // {_FRAME_DOCS}) % {_TORN_MOD} != 3
                THEN length(text) ELSE NULL END AS n_chars,
           CASE WHEN (doc_id // {_FRAME_DOCS}) % {_TORN_MOD} != 3
                THEN 1 ELSE NULL END AS lang_exact
    FROM documents
    """,
    doc="zstd SEEKABLE archives (public contrib spec) range-read by "
    "frame — the 100 TB shape for the compressor of the modern corpus "
    "world, and the zstd twin of the xz-block / wikidump index plans: "
    "each archive's tail skippable frame carries the seek table, so "
    "the plan reads 4 KiB TAILS only (a seek per file, never "
    "binaryFile over the bulk), derives per-frame byte ranges "
    "relationally, and each task range-reads and decodes ONE "
    "independent frame with the own RFC 8878 decoder. Every "
    f"{_TORN_MOD}th frame stages TORN (a byte scribbled mid-frame): "
    "its docs come back as ok=false quarantine rows from the fixed "
    f"{_FRAME_DOCS}-doc frame geometry while every other frame's docs "
    "must verify text length and lang exactly — per-frame fault "
    "isolation, the property that makes independent frames worth "
    "their compression-ratio cost.",
)
def multimodal_zstd_seekable_ranged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    path = _stage_seekable(spark, sf_dir)
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".zst") and not f.startswith(".")
    )
    paths = spark.createDataFrame(
        [(p, os.path.getsize(p)) for p in files], "path string, file_len long"
    ).repartition(scan_partitions(spark, len(files)))

    def read_tails(batches):
        import pandas as pd

        from ..operators.zstd import read_seek_table

        for pdf in batches:
            out = {"path": [], "frame_index": [], "offset": [],
                   "compressed_len": [], "first_doc": []}
            for p, flen in zip(pdf["path"], pdf["file_len"]):
                pid = int(p.split("corpus-")[-1].split(".")[0])
                with open(p, "rb") as fh:
                    fh.seek(max(0, int(flen) - 4096))
                    tail = fh.read()
                for rec in read_seek_table(tail, int(flen)):
                    out["path"].append(p)
                    out["frame_index"].append(rec["frame_index"])
                    out["offset"].append(rec["offset"])
                    out["compressed_len"].append(rec["compressed_len"])
                    out["first_doc"].append(
                        pid * _DOCS_PER_ARCHIVE
                        + rec["frame_index"] * _FRAME_DOCS
                    )
            yield pd.DataFrame(out)

    frames = paths.mapInPandas(
        read_tails,
        schema="path string, frame_index int, offset long, "
        "compressed_len long, first_doc long",
    ).repartition(scan_partitions(spark))

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("want_text"),
        F.col("lang").alias("want_lang"),
    )

    def decode_frame(batches):
        import json as json_

        import pandas as pd

        from ..operators.compression import decompress

        for pdf in batches:
            out = {"doc_id": [], "ok": [], "n_chars": [], "got_lang": []}
            for p, off, clen, first in zip(
                pdf["path"], pdf["offset"], pdf["compressed_len"],
                pdf["first_doc"],
            ):
                with open(p, "rb") as fh:
                    fh.seek(int(off))
                    raw = fh.read(int(clen))
                try:
                    lines = decompress("zstd", raw).decode("utf-8").splitlines()
                    for line in lines:
                        rec = json_.loads(line)
                        out["doc_id"].append(int(rec["doc_id"]))
                        out["ok"].append(True)
                        out["n_chars"].append(len(rec["text"]))
                        out["got_lang"].append(rec["lang"])
                except (ValueError, UnicodeDecodeError):
                    # torn frame: quarantine each doc of the fixed
                    # frame geometry, ids recoverable without bytes
                    for d in range(int(first), int(first) + _FRAME_DOCS):
                        out["doc_id"].append(d)
                        out["ok"].append(False)
                        out["n_chars"].append(None)
                        out["got_lang"].append(None)
            yield pd.DataFrame(out)

    decoded = frames.mapInPandas(
        decode_frame,
        schema="doc_id long, ok boolean, n_chars long, got_lang string",
    )
    return (
        # inner join doubles as the geometry cap: quarantined ids past
        # the table's end (a short torn last frame) are ghost rows the
        # join drops; real ids keep their want_* columns
        decoded.join(F.broadcast(docs), "doc_id")
        .select(
            "doc_id",
            "ok",
            "n_chars",
            F.when(
                F.col("ok") & (F.col("got_lang") == F.col("want_lang")), 1
            ).alias("lang_exact"),
        )
        .orderBy("doc_id")
    )


_WARC_ZST_DICT_MAGIC = 0x184D2A5D


def _stage_warc_zst(spark: SparkSession, sf_dir: str) -> str:
    """Common Crawl-shape ``.warc.zst`` shards: a shared dictionary
    TRAINED by the reference zstd CLI over sample records rides in the
    leading ``0x184D2A5D`` skippable frame; every WARC record is its
    own dictionary-keyed frame (the random-access contract).  The CLI
    does the dictionary-side compression — the staged bytes are the
    reference implementation's, which makes every query run a
    reference-vs-own differential over format-dictionary frames."""
    import os
    import shutil
    import struct
    import subprocess

    def build(path: str) -> None:
        cli = shutil.which("zstd") or "/root/miniconda/bin/zstd"
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "source")
            .withColumn(
                "shard",
                F.floor(F.col("doc_id") / _DOCS_PER_SHARD).cast("int"),
            )
        )

        def record(doc_id: int, source: str, text: str) -> bytes:
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                b"charset=utf-8\r\n\r\n" + text.encode("utf-8")
            )
            head = (
                f"WARC/1.1\r\nWARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:uuid:zst-{doc_id}>\r\n"
                f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                f"WARC-Target-URI: https://{source}.example/{doc_id}\r\n"
                f"Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("utf-8")
            return head + body + b"\r\n\r\n"

        # dictionary: trained ONCE on the driver over the first shard's
        # records (deterministic inputs -> deterministic dict), shared
        # by every shard like Common Crawl's per-crawl dictionaries
        first = (
            d.where(F.col("shard") == 0)
            .orderBy("doc_id")
            .collect()
        )
        import tempfile

        tdir = tempfile.mkdtemp()
        sample_paths = []
        for r in first:
            p = os.path.join(tdir, f"s{int(r.doc_id):06d}.bin")
            with open(p, "wb") as fh:
                fh.write(record(int(r.doc_id), r.source, r.text))
            sample_paths.append(p)
        dict_path = os.path.join(path, "_train.dict")
        subprocess.run(
            [cli, "--train", *sample_paths, "-o", dict_path,
             "--maxdict=4096", "-q"],
            check=True,
            capture_output=True,
        )
        dict_blob = open(dict_path, "rb").read()
        os.remove(dict_path)
        dict_frame = (
            struct.pack("<II", _WARC_ZST_DICT_MAGIC, len(dict_blob))
            + dict_blob
        )
        # the dictionary travels to executors AS BYTES (broadcast) —
        # the shape that survives a real cluster, not a shared disk
        bc = spark.sparkContext.broadcast((dict_frame, dict_blob))

        def write_shard(pdf):
            import os as os_
            import subprocess as sp_
            import tempfile as tf_

            import pandas as pd

            pdf = pdf.sort_values("doc_id")
            sid = int(pdf["shard"].iloc[0])
            frame_bytes, dict_bytes = bc.value
            td = tf_.mkdtemp()
            dpath = os_.path.join(td, "shared.dict")
            with open(dpath, "wb") as fh:
                fh.write(dict_bytes)
            recs = []
            for r in pdf.itertuples():
                p = os_.path.join(td, f"r{int(r.doc_id):06d}.bin")
                with open(p, "wb") as fh:
                    fh.write(record(int(r.doc_id), r.source, r.text))
                recs.append(p)
            sp_.run(
                [cli, "-q", "-D", dpath, *recs],
                check=True,
                capture_output=True,
            )
            blob = bytearray(frame_bytes)
            for p in recs:
                with open(p + ".zst", "rb") as fh:
                    blob += fh.read()
            write_atomic(path, f"{sid:05d}.warc.zst", bytes(blob))
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard int, n int").collect()

    return stage_fixture("warczst", sf_dir, build)


@register(
    "warc_zst_ingest",
    oracle="""
    SELECT doc_id, 1 AS dict_frame_seen, 1 AS text_exact, lang
    FROM documents
    """,
    doc="Common Crawl's .warc.zst shape through the own RFC 8878 "
    "decoder WITH dictionary support: each shard leads with the "
    "0x184D2A5D skippable frame carrying a FORMAT dictionary (trained "
    "by the reference zstd CLI — entropy tables, rep offsets, content "
    "prefix all parsed per RFC 8878 §5), and every WARC record is its "
    "own dictionary-keyed frame, the random-access contract that "
    "lets a CDX-style index point at one record without touching the "
    "rest. The staged frames are the REFERENCE implementation's "
    "dictionary-compressed bytes, so each run differentially validates "
    "the dictionary decode path (treeless literals against the dict's "
    "Huffman table, repeat FSE tables, window matches reaching into "
    "dict content). Text must come back byte-exact through the HTTP "
    "payload split; frames without the dictionary fail LOUDLY "
    "(unit-tested), never silently wrong.",
)
def warc_zst_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_warc_zst(spark, sf_dir)
    shards = read_blobs(spark, path, "warc.zst").select("path", "content")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").alias("want_text"),
        F.col("lang").alias("want_lang"),
    )

    def kernel(batches):
        import pandas as pd

        from ..operators.zstd import iter_frames

        for pdf in batches:
            out = {"doc_id": [], "dict_frame_seen": [], "got_text": []}
            for blob in pdf["content"]:
                blob = bytes(blob)
                dict_data = None
                # first pass: find the dictionary skippable frame
                for part, magic, payload in iter_frames(blob):
                    if magic == _WARC_ZST_DICT_MAGIC:
                        dict_data = payload
                    break
                if dict_data is None:
                    raise ValueError("warc.zst: missing dictionary frame")
                for part, magic, _payload in iter_frames(blob, dict_data):
                    if part is None:
                        continue
                    head, _, rest = part.partition(b"\r\n\r\n")
                    fields = {}
                    for line in head.decode("utf-8").split("\r\n")[1:]:
                        k, _, v = line.partition(": ")
                        fields[k] = v
                    doc_id = int(fields["WARC-Target-URI"].rsplit("/", 1)[1])
                    _http_head, _, body = rest.partition(b"\r\n\r\n")
                    text = body[: -4] if body.endswith(b"\r\n\r\n") else body
                    out["doc_id"].append(doc_id)
                    out["dict_frame_seen"].append(1)
                    out["got_text"].append(text.decode("utf-8"))
            yield pd.DataFrame(out)

    decoded = shards.mapInPandas(
        kernel, "doc_id long, dict_frame_seen int, got_text string"
    )
    return (
        decoded.join(F.broadcast(docs), "doc_id")
        .select(
            "doc_id",
            "dict_frame_seen",
            (F.col("got_text") == F.col("want_text"))
            .cast("int")
            .alias("text_exact"),
            F.col("want_lang").alias("lang"),
        )
        .orderBy("doc_id")
    )

"""ORC lake queries — the second columnar format, read end-to-end by
the own codec (operators/orc.py + protobuf_wire.py, written from the
public ORC v1 spec and cross-validated against the independent Apache
ORC C++ writer in tests/test_orc.py).

Why a Spark engine needs its own ORC surface here: the parquet family
(queries/lake_footer.py) covers the lake's native format; ORC is what
Hive/Trino estates hand over in a migration, and these queries prove
the same three disciplines on it — whole-shard ingest with relational
verification, metadata-only footer statistics (ORC footers carry
min/max/sum per column, a richer zone map than parquet's), and
stripe-level range reads where one task touches one stripe's byte
range of a large file (the wikidump/CDX shape on ORC's own unit of
distribution).

Scale posture: shards are written AND read on the executors
(applyInPandas staging, mapInPandas kernels); the stripe-ranged plan
collects only the footer's stripe relation (a few rows of offsets —
the wikidump-index class) and every stripe decode is a map-side task
over its own byte range.  Torn tails, scribbled magic and
SNAPPY-compressed shards (no independent decoder in-container — a loud
documented seam, not a fabricated one) each cost one quarantine
record.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..session import scan_partitions
from ..workdir import stage_fixture, write_atomic

_ORC_DOCS_PER_SHARD = 100


def _stage_orc_shards(spark: SparkSession, sf_dir: str) -> str:
    """One ORC shard per _ORC_DOCS_PER_SHARD docs, written from the
    executors by pyarrow.orc (the INDEPENDENT C++ writer — what a real
    Hive handover gives you); compression cycles ZLIB/NONE/SNAPPY by
    shard — the snappy leg decodes through the own snappy.py codec."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars")
            .withColumn(
                "shard",
                F.floor(F.col("doc_id") / _ORC_DOCS_PER_SHARD).cast("long"),
            )
        )

        def write_shard(pdf):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.orc as paorc

            pdf = pdf.sort_values("doc_id")
            sid = int(pdf["shard"].iloc[0])
            tbl = pa.Table.from_pandas(
                pdf.drop(columns=["shard"]), preserve_index=False
            )
            comp = ("zlib", "uncompressed", "snappy")[sid % 3]
            buf = pa.BufferOutputStream()
            paorc.write_table(tbl, buf, compression=comp)
            write_atomic(path, f"{sid:05d}.orc", buf.getvalue().to_pybytes())
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard long, n long").collect()

    return stage_fixture("orclake", sf_dir, build)


def _shard_paths(spark: SparkSession, path: str) -> DataFrame:
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".orc")
    )
    df = spark.createDataFrame([(p,) for p in files], "path string")
    return df.repartition(scan_partitions(spark, len(files)))


@register(
    "multimodal_orc_ingest",
    oracle=f"""
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      MAX(comp) AS compression,
      CAST(COUNT(*) AS BIGINT) AS n_text_exact,
      CAST(COUNT(*) AS BIGINT) AS n_lang_exact
    FROM (
      SELECT CAST(doc_id // {_ORC_DOCS_PER_SHARD} AS BIGINT) AS shard,
        CASE CAST((doc_id // {_ORC_DOCS_PER_SHARD}) % 3 AS INT)
          WHEN 0 THEN 'ZLIB' WHEN 1 THEN 'NONE' ELSE 'SNAPPY' END AS comp
      FROM documents
    ) GROUP BY shard
    """,
    doc="ORC shard ingestion through the own codec (operators/orc.py): "
    "shards written by the independent Apache ORC C++ writer "
    "(pyarrow.orc; ZLIB, uncompressed and SNAPPY cycled — the snappy "
    "leg exercises the own pure-algorithm codec in snappy.py against "
    "the C++ compressor's real output) are decoded "
    "stripe-by-stripe in an Arrow kernel — RLEv2 integers (all four "
    "sub-encodings live in real shards), direct/dictionary strings, "
    "present bitmaps — and verified RELATIONALLY: the recovered rows "
    "join back to the documents table and the oracle demands every "
    "text and lang byte-exact plus the per-shard compression routing. "
    "Scale: binary shards never cross the driver; one shard = one "
    "kernel call, the Hive-handover ingest shape.",
)
def multimodal_orc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.orc import read_orc

    lake = _stage_orc_shards(spark, sf_dir)
    paths = _shard_paths(spark, lake)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                with open(r.path, "rb") as fh:
                    tail, cols = read_orc(fh.read())
                sid = int(os.path.basename(r.path).split(".")[0])
                comp = tail["postscript"]["compression"]
                for did, text, lang in zip(
                    cols["doc_id"], cols["text"], cols["lang"]
                ):
                    out.append((sid, did, text, lang, comp))
            yield pd.DataFrame(
                out, columns=["shard", "doc_id", "text_orc", "lang_orc", "comp"]
            )

    recovered = paths.mapInPandas(
        kernel,
        "shard long, doc_id long, text_orc string, lang_orc string, comp string",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    joined = recovered.join(docs, "doc_id", "inner")
    return joined.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("comp").alias("compression"),
        F.sum((F.col("text_orc") == F.col("text")).cast("long"))
        .cast("long")
        .alias("n_text_exact"),
        F.sum((F.col("lang_orc") == F.col("lang")).cast("long"))
        .cast("long")
        .alias("n_lang_exact"),
    )


@register(
    "lake_orc_footer_stats",
    oracle=f"""
    SELECT shard, col, n_vals, min_s, max_s, sum_v FROM (
      SELECT CAST(doc_id // {_ORC_DOCS_PER_SHARD} AS BIGINT) AS shard,
        'doc_id' AS col, CAST(COUNT(doc_id) AS BIGINT) AS n_vals,
        CAST(MIN(doc_id) AS VARCHAR) AS min_s,
        CAST(MAX(doc_id) AS VARCHAR) AS max_s,
        CAST(SUM(doc_id) AS BIGINT) AS sum_v
      FROM documents GROUP BY 1
      UNION ALL
      SELECT CAST(doc_id // {_ORC_DOCS_PER_SHARD} AS BIGINT),
        'text', CAST(COUNT(text) AS BIGINT),
        MIN(text), MAX(text),
        CAST(SUM(STRLEN(text)) AS BIGINT)
      FROM documents GROUP BY 1
      UNION ALL
      SELECT CAST(doc_id // {_ORC_DOCS_PER_SHARD} AS BIGINT),
        'n_chars', CAST(COUNT(n_chars) AS BIGINT),
        CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR),
        CAST(SUM(n_chars) AS BIGINT)
      FROM documents GROUP BY 1
    )
    """,
    doc="Metadata-only ORC audit, the parquet-footer twin with a RICHER "
    "zone map: ORC footers publish per-column min/max AND sums "
    "(IntegerStatistics.sum, StringStatistics.sum = total bytes), so a "
    "SUM-shaped audit is answerable from tails alone — at 100 TB this "
    "is a KB-per-file answer to a question parquet needs a scan for. "
    "The own protobuf walk decodes the statistics messages and the "
    "oracle recomputes every claim (counts, lexicographic string "
    "bounds, integer sums, UTF-8 byte totals) from the data, so one "
    "mis-numbered field or mis-signed zigzag flips the hash.",
)
def lake_orc_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.orc import read_tail_ranged

    lake = _stage_orc_shards(spark, sf_dir)
    paths = _shard_paths(spark, lake)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                tail = read_tail_ranged(r.path)
                sid = int(os.path.basename(r.path).split(".")[0])
                root = tail["schema"][0]
                stats = tail["column_stats"]
                for name, col in zip(root["field_names"], root["subtypes"]):
                    if name not in ("doc_id", "text", "n_chars"):
                        continue
                    st = stats[col]
                    out.append(
                        (
                            sid,
                            name,
                            st["num_values"],
                            str(st["min"]),
                            str(st["max"]),
                            st["sum"],
                        )
                    )
            yield pd.DataFrame(
                out, columns=["shard", "col", "n_vals", "min_s", "max_s", "sum_v"]
            )

    return paths.mapInPandas(
        kernel,
        "shard long, col string, n_vals long, min_s string, max_s string, "
        "sum_v long",
    )


def _stage_orc_striped(spark: SparkSession, sf_dir: str) -> str:
    """The whole documents corpus as ONE multi-stripe ORC file: a bulky
    deterministic filler column inflates row bytes so the C++ writer
    flushes many stripes even at small SF — the shape whose unit of
    parallelism is the stripe, not the file."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .withColumn("one", F.lit(1))
        )

        def write_file(pdf):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.orc as paorc

            pdf = pdf.sort_values("doc_id").drop(columns=["one"])
            pdf["filler"] = [
                (str(i) * 600)[:2048] for i in pdf["doc_id"]
            ]
            tbl = pa.Table.from_pandas(pdf, preserve_index=False)
            buf = pa.BufferOutputStream()
            paorc.write_table(tbl, buf, compression="uncompressed", stripe_size=64 * 1024)
            write_atomic(path, "corpus.orc", buf.getvalue().to_pybytes())
            return pd.DataFrame({"n": [len(pdf)]})

        d.groupBy("one").applyInPandas(write_file, "n long").collect()

    return stage_fixture("orcstriped", sf_dir, build)


@register(
    "lake_orc_stripe_ranged",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CAST(LENGTH(text) AS BIGINT) AS n_chars_orc
    FROM documents
    """,
    doc="Stripe-level range reads — ORC's unit of distribution driven "
    "the wikidump/CDX way: a footer-only pass over one multi-stripe "
    "corpus file yields the stripe relation (offset, index/data/footer "
    "lengths, rows — the ONLY collect, a few metadata rows), and each "
    "task then range-reads exactly its stripe's byte slice and decodes "
    "it standalone (stripes are self-contained by design — the spec's "
    "point). Every document's text must come back character-exact "
    "(length-checked against the table) across stripe boundaries. At "
    "100 TB this is how a 2 GB ORC file becomes 30 parallel tasks "
    "without any task reading the whole object.",
)
def lake_orc_stripe_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.orc import read_stripe_columns, read_tail_ranged

    lake = _stage_orc_striped(spark, sf_dir)
    corpus = os.path.join(lake, "corpus.orc")
    # The metadata pass: a tail range-read (16 KB probe) — the driver
    # never sees a data byte, only the stripe relation below.
    tail = read_tail_ranged(corpus)
    schema_types = [
        (t["kind"], t["subtypes"], t["field_names"]) for t in tail["schema"]
    ]
    comp = tail["postscript"]["compression"]
    stripes = [
        (
            corpus,
            i,
            s["offset"],
            s["index_length"],
            s["data_length"],
            s["footer_length"],
            s["num_rows"],
        )
        for i, s in enumerate(tail["stripes"])
    ]
    rel = spark.createDataFrame(
        stripes,
        "path string, stripe int, offset long, index_length long, "
        "data_length long, footer_length long, num_rows long",
    ).repartition(scan_partitions(spark, len(stripes)))

    def kernel(batches):
        import pandas as pd

        schema = [
            {"kind": k, "subtypes": st, "field_names": fn}
            for k, st, fn in schema_types
        ]
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                length = int(r.index_length + r.data_length + r.footer_length)
                with open(r.path, "rb") as fh:
                    fh.seek(int(r.offset))
                    region = fh.read(length)
                stripe = {
                    "index_length": int(r.index_length),
                    "data_length": int(r.data_length),
                    "footer_length": int(r.footer_length),
                    "num_rows": int(r.num_rows),
                }
                cols = read_stripe_columns(region, stripe, schema, comp)
                for did, text in zip(cols["doc_id"], cols["text"]):
                    out.append((did, len(text)))
            yield pd.DataFrame(out, columns=["doc_id", "n_chars_orc"])

    return rel.mapInPandas(kernel, "doc_id long, n_chars_orc long")


def _stage_torn_orc(spark: SparkSession, sf_dir: str) -> str:
    """Damage-class copies of the ORC shards, one class per shard%4:
    0 intact, 1 postscript magic scribbled, 2 truncated to 60% (footer
    gone), 3 rewritten with ZSTD compression (since r14b a REAL shard
    the own RFC 8878 codec DECODES — the seam-closed class)."""
    src = _stage_orc_shards(spark, sf_dir)
    def build(path: str) -> None:
        files = sorted(
            os.path.join(src, f) for f in os.listdir(src) if f.endswith(".orc")
        )
        paths = spark.createDataFrame([(p,) for p in files], "path string")

        def corrupt_part(rows):
            import pyarrow as pa
            import pyarrow.orc as paorc

            for r in rows:
                sid = int(os.path.basename(r.path).split(".")[0])
                mode = sid % 4
                if mode == 3:
                    buf = pa.BufferOutputStream()
                    paorc.write_table(paorc.read_table(r.path), buf, compression="zstd")
                    blob = buf.getvalue().to_pybytes()
                else:
                    with open(r.path, "rb") as fh:
                        blob = bytearray(fh.read())
                    if mode == 1:
                        blob[-4:-1] = b"XXX"
                    elif mode == 2:
                        blob = blob[: len(blob) * 3 // 5]
                write_atomic(path, f"{sid:05d}.orc", bytes(blob))

        paths.foreachPartition(corrupt_part)

    return stage_fixture("orclake_torn", sf_dir, build)


@register(
    "lake_orc_quarantine",
    oracle=f"""
    WITH s AS (
      SELECT CAST(doc_id // {_ORC_DOCS_PER_SHARD} AS BIGINT) AS shard,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    )
    SELECT shard,
      CASE CAST(shard % 4 AS INT)
        WHEN 0 THEN 'ok' WHEN 1 THEN 'bad_magic'
        WHEN 2 THEN 'torn_tail' ELSE 'zstd_ok' END AS status,
      CASE WHEN shard % 4 IN (0, 3) THEN n END AS n_rows
    FROM s
    """,
    doc="ORC damage quarantine: shard copies cycle a scribbled "
    "postscript magic, a 60%-truncation (footer gone — the torn-upload "
    "shape), and a REAL ZSTD-compressed shard. The first two are "
    "ValueError classes costing one record each. The third was the "
    "honest unsupported seam until r14b closed it: the own RFC 8878 "
    "decoder (operators/zstd.py, libzstd-cross-validated) now decodes "
    "the libzstd-written shard and must report its exact row count — "
    "a reference-vs-own differential inside the damage sweep. The "
    "LOUD NotImplementedError routing stays for genuinely absent "
    "codecs (LZO/LZ4, unit-tested in tests/test_orc.py).",
)
def lake_orc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.orc import read_orc

    torn = _stage_torn_orc(spark, sf_dir)
    paths = _shard_paths(spark, torn)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                sid = int(os.path.basename(r.path).split(".")[0])
                try:
                    with open(r.path, "rb") as fh:
                        tail, _cols = read_orc(fh.read())
                    out.append(
                        (
                            sid,
                            "zstd_ok"
                            if tail["postscript"]["compression"] == "ZSTD"
                            else "ok",
                            tail["num_rows"],
                        )
                    )
                except NotImplementedError:
                    out.append((sid, "unsupported_codec", None))
                except ValueError as exc:
                    status = (
                        "bad_magic" if "magic" in str(exc) else "torn_tail"
                    )
                    out.append((sid, status, None))
            yield pd.DataFrame(out, columns=["shard", "status", "n_rows"])

    return paths.mapInPandas(kernel, "shard long, status string, n_rows long")


def _stage_orc_events(spark: SparkSession, sf_dir: str) -> str:
    """Events shards as ORC with TIMESTAMP and DECIMAL columns — the
    Hive-estate schema reality (fact tables are full of timestamps and
    money columns); zstd/zlib cycled so the r14b codec legs run here."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "event_type", "value")
            .withColumn(
                "shard",
                F.floor(F.col("event_id") / 1000).cast("long"),
            )
        )

        def write_shard(pdf):
            import decimal as decimal_
            import pandas as pd
            import pyarrow as pa
            import pyarrow.orc as paorc

            pdf = pdf.sort_values("event_id")
            sid = int(pdf["shard"].iloc[0])
            amount = [
                None
                if v is None
                else decimal_.Decimal(f"{float(v):.2f}")
                for v in pdf["value"]
            ]
            tbl = pa.table(
                {
                    "event_id": pa.array(
                        [int(v) for v in pdf["event_id"]], pa.int64()
                    ),
                    "ts": pa.array(list(pdf["ts"]), pa.timestamp("us")),
                    "event_type": pa.array(
                        [str(v) for v in pdf["event_type"]]
                    ),
                    "amount": pa.array(amount, pa.decimal128(12, 2)),
                }
            )
            comp = ("zstd", "zlib")[sid % 2]
            buf = pa.BufferOutputStream()
            paorc.write_table(tbl, buf, compression=comp)
            write_atomic(path, f"{sid:05d}.orc", buf.getvalue().to_pybytes())
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard long, n long").collect()

    return stage_fixture("orcevents", sf_dir, build)


@register(
    "lake_orc_timestamps",
    oracle="""
    SELECT event_id,
      rtrim(rtrim(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'), '0'), '.') AS ts_iso,
      event_type,
      CAST(printf('%.2f', value) AS VARCHAR) AS amount
    FROM events
    """,
    doc="ORC TIMESTAMP + DECIMAL through the own codec — the Hive "
    "fact-table schema reality: events staged as ORC shards (pyarrow's "
    "C++ writer, zstd/zlib cycled) with a timestamp('us') column and a "
    "decimal128(12,2) money column derived from value. The own decoder "
    "recovers the 2015-relative seconds + trailing-zero-compressed "
    "nanos SECONDARY stream (incl. the C-truncation negative-nanos "
    "form) and the unbounded-varint + scale-stream decimals; the "
    "oracle recomputes both renderings from the source table, so a "
    "one-second borrow error, a nanos scale slip, or a misplaced "
    "decimal point flips the hash. Same shard-per-kernel plan as "
    "multimodal_orc_ingest.",
)
def lake_orc_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.orc import read_orc

    lake = _stage_orc_events(spark, sf_dir)
    paths = _shard_paths(spark, lake)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                with open(r.path, "rb") as fh:
                    _tail, cols = read_orc(fh.read())
                out.extend(
                    zip(cols["event_id"], cols["ts"], cols["event_type"],
                        cols["amount"])
                )
            yield pd.DataFrame(
                out, columns=["event_id", "ts_iso", "event_type", "amount"]
            )

    return paths.mapInPandas(
        kernel,
        "event_id long, ts_iso string, event_type string, amount string",
    ).orderBy("event_id")


def _stage_orc_embeddings(spark: SparkSession, sf_dir: str) -> str:
    """The embeddings table as ORC shards — list<float> vectors through
    the LENGTH-stream recursion (zstd/snappy cycled)."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding", "label")
            .withColumn("shard", F.floor(F.col("vec_id") / 250).cast("long"))
        )

        def write_shard(pdf):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.orc as paorc

            pdf = pdf.sort_values("vec_id")
            sid = int(pdf["shard"].iloc[0])
            tbl = pa.table(
                {
                    "vec_id": pa.array(
                        [int(v) for v in pdf["vec_id"]], pa.int64()
                    ),
                    "embedding": pa.array(
                        [
                            None if v is None else [float(x) for x in v]
                            for v in pdf["embedding"]
                        ],
                        pa.list_(pa.float32()),
                    ),
                    "label": pa.array(
                        [None if v is None else int(v) for v in pdf["label"]],
                        pa.int64(),
                    ),
                }
            )
            comp = ("zstd", "snappy")[sid % 2]
            buf = pa.BufferOutputStream()
            paorc.write_table(tbl, buf, compression=comp)
            write_atomic(path, f"{sid:05d}.orc", buf.getvalue().to_pybytes())
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard long, n long").collect()

    return stage_fixture("orcemb", sf_dir, build)


@register(
    "lake_orc_embeddings",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
      CAST(len(embedding) AS BIGINT) AS n_dims,
      CASE WHEN len(embedding) > 0 THEN CAST(list_sum(
        list_transform(embedding,
          e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000) AS BIGINT))
      ) AS BIGINT) END AS floor_sum,
      CAST(label AS BIGINT) AS label
    FROM embeddings
    """,
    doc="The embeddings table's list<float> vectors through the own "
    "ORC codec — the ORC twin of lake_parquet_embeddings_native, "
    "reading one-level LISTs via the LENGTH stream + child-column "
    "recursion (r14b) from shards the C++ writer staged (zstd/snappy "
    "cycled). The oracle's element-exact floor-fingerprint recomputes "
    "every vector from the source table: a LENGTH slip that shifts a "
    "vector boundary by one element flips the hash. Same "
    "shard-per-kernel plan as the other ORC legs.",
)
def lake_orc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.orc import read_orc

    lake = _stage_orc_embeddings(spark, sf_dir)
    paths = _shard_paths(spark, lake)

    def kernel(batches):
        import math

        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                with open(r.path, "rb") as fh:
                    _tail, cols = read_orc(fh.read())
                for vid, vec, lbl in zip(
                    cols["vec_id"], cols["embedding"], cols["label"]
                ):
                    n_dims = None if vec is None else len(vec)
                    fsum = (
                        sum(math.floor(e * 1000) for e in vec)
                        if vec
                        else None
                    )
                    out.append((vid, n_dims, fsum, lbl))
            yield pd.DataFrame(
                out, columns=["vec_id", "n_dims", "floor_sum", "label"]
            )

    return paths.mapInPandas(
        kernel, "vec_id long, n_dims long, floor_sum long, label long"
    ).orderBy("vec_id")

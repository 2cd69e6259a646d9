"""Footer-driven lake metadata queries — the parquet twin of the
index-driven plans (wikidump bz2 offsets, CDX sidecars): at 100 TB the
planner's unit of work is the FOOTER, a few KB of Thrift at the tail of
a multi-GB object that carries row-group boundaries, per-column
min/max/null statistics, codecs and offsets.  Spark consumes these
internally during scan planning but never exposes them; these queries
surface the footer RELATIONALLY (audits without scans, layout
inspection, codec drift) and then close the loop: a footer-only prune
pass picks the files a predicate can touch, and the data scan reads
ONLY those (tests/test_parquet_meta.py locks the input-file set).

Codec: operators/parquet_meta.py — own pure-stdlib Thrift Compact
Protocol reader written from the public parquet-format spec,
cross-validated field-for-field against DuckDB's ``parquet_metadata()``
on the parquet-cpp-arrow-written driver testdata (three independent
producers, zero shared code).

Scale posture: footers are range-read (tail 8 bytes, then exactly
``footer_len``) on the executors via ``mapInPandas`` over a tiny paths
relation — the data pages never cross a decompressor, the wire, or the
driver.  The only collect is the kept-file list of the planned scan:
a handful of path strings, the same class as the wikidump index
collect.  Torn tails (clipped magic, footer length past the start of
file, scribbled Thrift) cost one quarantine record each, never the job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, table_path
from ..registry import register
from ..workdir import stage_fixture, write_atomic

# Controlled physical layout for the staged documents lake: files of
# _DOCS_PER_FILE docs, row groups of _DOCS_PER_RG — so every row-group
# boundary is a pure function of doc_id and the DuckDB oracle can
# recompute the footer's claims from the data alone.
_DOCS_PER_FILE = 125
_DOCS_PER_RG = 25
_PRUNE_LO = 60
_PRUNE_HI = 140

# (table, column) manifest for the real-testdata footer-stats audit:
# int keys, strings, and one timestamp — types whose stats render to
# canonical strings identically in this codec and in DuckDB's CAST.
_STATS_MANIFEST = (
    ("orders", ("o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate")),
    ("customer", ("c_custkey", "c_name")),
    ("part", ("p_partkey", "p_type")),
    ("nation", ("n_nationkey", "n_name")),
)


def _fold_key(physical: str, rendered: str):
    """Sort key for folding per-row-group stats to per-file grain."""
    if physical in ("INT32", "INT64"):
        try:
            return int(rendered)
        except ValueError:
            return rendered  # DATE / TIMESTAMP render ISO — lexicographic
    if physical in ("FLOAT", "DOUBLE"):
        return float(rendered)
    return rendered


def _paths_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    from ..session import scan_partitions

    df = spark.createDataFrame(rows, schema)
    return df.repartition(scan_partitions(spark, len(rows)))


@register(
    "lake_footer_stats",
    oracle="""
    SELECT 'orders' AS tbl, 'o_orderkey' AS col, 'INT64' AS physical,
      CAST(1 AS BIGINT) AS n_row_groups, CAST(COUNT(*) AS BIGINT) AS num_values,
      CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
      CAST(MIN(o_orderkey) AS VARCHAR) AS min_s, CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL SELECT 'orders', 'o_orderstatus', 'BYTE_ARRAY', 1, COUNT(*),
      COUNT(*) - COUNT(o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
    UNION ALL SELECT 'orders', 'o_orderpriority', 'BYTE_ARRAY', 1, COUNT(*),
      COUNT(*) - COUNT(o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
    UNION ALL SELECT 'orders', 'o_orderdate', 'INT64', 1, COUNT(*),
      COUNT(*) - COUNT(o_orderdate),
      CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR) FROM orders
    UNION ALL SELECT 'customer', 'c_custkey', 'INT64', 1, COUNT(*),
      COUNT(*) - COUNT(c_custkey),
      CAST(MIN(c_custkey) AS VARCHAR), CAST(MAX(c_custkey) AS VARCHAR) FROM customer
    UNION ALL SELECT 'customer', 'c_name', 'BYTE_ARRAY', 1, COUNT(*),
      COUNT(*) - COUNT(c_name), MIN(c_name), MAX(c_name) FROM customer
    UNION ALL SELECT 'part', 'p_partkey', 'INT64', 1, COUNT(*),
      COUNT(*) - COUNT(p_partkey),
      CAST(MIN(p_partkey) AS VARCHAR), CAST(MAX(p_partkey) AS VARCHAR) FROM part
    UNION ALL SELECT 'part', 'p_type', 'BYTE_ARRAY', 1, COUNT(*),
      COUNT(*) - COUNT(p_type), MIN(p_type), MAX(p_type) FROM part
    UNION ALL SELECT 'nation', 'n_nationkey', 'INT32', 1, COUNT(*),
      COUNT(*) - COUNT(n_nationkey),
      CAST(MIN(n_nationkey) AS VARCHAR), CAST(MAX(n_nationkey) AS VARCHAR) FROM nation
    UNION ALL SELECT 'nation', 'n_name', 'BYTE_ARRAY', 1, COUNT(*),
      COUNT(*) - COUNT(n_name), MIN(n_name), MAX(n_name) FROM nation
    """,
    doc="Metadata-only lake audit: per-column row counts, null counts and "
    "min/max recovered from the REAL testdata parquet footers by the own "
    "Thrift Compact Protocol codec (operators/parquet_meta.py, written "
    "from the public parquet-format spec) — the data pages are never "
    "read, which is the whole point at 100 TB: a few KB of tail bytes "
    "per multi-GB object answer COUNT/MIN/MAX-shaped audit queries that "
    "would otherwise be full scans. The oracle recomputes every claim "
    "from the data itself (footer statistics are redundant summaries), "
    "so a single mis-decoded varint, zigzag sign, stats byte-order or "
    "timestamp unit flips the hash. Stats strings use each type's "
    "canonical rendering (INT64 decimal, BYTE_ARRAY UTF-8, TIMESTAMP "
    "micros to ISO) cross-validated against DuckDB's parquet_metadata() "
    "in tests/test_parquet_meta.py. Scale: one tail range-read per file "
    "on the executors; only (table, path) strings and the per-column "
    "summary rows cross the wire.",
)
def lake_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    rows = [
        (tbl, table_path(sf_dir, tbl), list(cols)) for tbl, cols in _STATS_MANIFEST
    ]
    paths = _paths_df(
        spark, rows, "tbl string, path string, want array<string>"
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                meta = parse_file_meta(read_footer_tail(r.path))
                want = set(r.want)
                folded: dict[str, dict] = {}
                for rg in meta["row_groups"]:
                    for c in rg["columns"]:
                        if c["path"] not in want:
                            continue
                        f = folded.setdefault(
                            c["path"],
                            {
                                "physical": c["physical"],
                                "n_rg": 0,
                                "num_values": 0,
                                "n_nulls": 0,
                                "min": None,
                                "max": None,
                            },
                        )
                        f["n_rg"] += 1
                        f["num_values"] += c["num_values"]
                        f["n_nulls"] += c["null_count"] or 0
                        for side, better in (("min", min), ("max", max)):
                            v = c[side]
                            if v is None:
                                continue
                            cur = f[side]
                            f[side] = (
                                v
                                if cur is None
                                else better(
                                    cur, v, key=lambda s: _fold_key(c["physical"], s)
                                )
                            )
                for col in r.want:
                    f = folded.get(col)
                    if f is None:
                        raise ValueError(
                            f"parquet footer: column {col} absent from {r.path}"
                        )
                    out.append(
                        (
                            r.tbl,
                            col,
                            f["physical"],
                            f["n_rg"],
                            f["num_values"],
                            f["n_nulls"],
                            f["min"],
                            f["max"],
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "tbl",
                    "col",
                    "physical",
                    "n_row_groups",
                    "num_values",
                    "n_nulls",
                    "min_s",
                    "max_s",
                ],
            )

    return paths.mapInPandas(
        kernel,
        "tbl string, col string, physical string, n_row_groups long, "
        "num_values long, n_nulls long, min_s string, max_s string",
    )


def _stage_docs_lake(
    spark: SparkSession, sf_dir: str, compression: str = "snappy"
) -> str:
    """Stage documents as a parquet lake with CONTROLLED physical layout:
    doc_id-sorted files of _DOCS_PER_FILE rows, row groups of
    _DOCS_PER_RG — written from the executors with pyarrow (a THIRD
    parquet producer, independent of both this codec and DuckDB)."""
    kind = "pqlake" if compression == "snappy" else f"pqlake_{compression}"
    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "source", "n_chars")
            .withColumn(
                "file_id", F.floor(F.col("doc_id") / _DOCS_PER_FILE).cast("long")
            )
        )

        def write_file(pdf):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.sort_values("doc_id")
            fid = int(pdf["file_id"].iloc[0])
            tbl = pa.Table.from_pandas(
                pdf.drop(columns=["file_id"]), preserve_index=False
            )
            buf = pa.BufferOutputStream()
            pq.write_table(
                tbl, buf, row_group_size=_DOCS_PER_RG, compression=compression
            )
            write_atomic(path, f"{fid:05d}.parquet", buf.getvalue().to_pybytes())
            return pd.DataFrame({"file_id": [fid], "n": [len(pdf)]})

        d.groupBy("file_id").applyInPandas(
            write_file, "file_id long, n long"
        ).collect()

    return stage_fixture(kind, sf_dir, build)


def _lake_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _footer_rg_frame(spark: SparkSession, files: list[str]) -> DataFrame:
    """Per-row-group relation recovered from footers only: one tail
    range-read per file, no data pages."""
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    paths = _paths_df(spark, [(p,) for p in files], "path string")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                meta = parse_file_meta(read_footer_tail(r.path))
                for rg in meta["row_groups"]:
                    stats = {c["path"]: c for c in rg["columns"]}
                    dc = stats.get("doc_id")
                    if dc is None or dc["min"] is None or dc["max"] is None:
                        raise ValueError(
                            f"parquet footer: doc_id stats absent in {r.path}"
                        )
                    out.append(
                        (r.path, rg["num_rows"], int(dc["min"]), int(dc["max"]))
                    )
            yield pd.DataFrame(
                out, columns=["path", "n_rows", "min_doc", "max_doc"]
            )

    return paths.mapInPandas(
        kernel, "path string, n_rows long, min_doc long, max_doc long"
    )


@register(
    "lake_footer_prune_plan",
    oracle=f"""
    SELECT CAST(doc_id // {_DOCS_PER_RG} AS BIGINT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(MIN(doc_id) AS BIGINT) AS min_doc,
      CAST(MAX(doc_id) AS BIGINT) AS max_doc,
      (MIN(doc_id) <= {_PRUNE_HI} AND MAX(doc_id) >= {_PRUNE_LO}) AS kept
    FROM documents
    GROUP BY 1
    """,
    doc="Row-group pruning decision table, computed from FOOTERS ONLY: "
    "the documents lake is staged with a controlled physical layout "
    f"(pyarrow, {_DOCS_PER_FILE}-doc files, {_DOCS_PER_RG}-doc row "
    "groups, doc_id-sorted — the clustering-key layout real lakehouses "
    "maintain), then one tail range-read per file recovers every row "
    "group's (num_rows, min, max) and the keep/skip verdict for the "
    f"predicate doc_id BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}. Because "
    "row-group boundaries are a pure function of doc_id, the DuckDB "
    "oracle recomputes the entire table — boundaries, counts, stats, "
    "verdicts — from the data alone; a footer decode that misplaced one "
    "row group or mis-signed one varint cannot hash-match. This is the "
    "zone-map/data-skipping primitive (the parquet-native analog of the "
    "wikidump offset index): at 100 TB the verdict column IS the scan "
    "plan, and the bytes touched are footers, not data.",
)
def lake_footer_prune_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    lake = _stage_docs_lake(spark, sf_dir)
    rgs = _footer_rg_frame(spark, _lake_files(lake))
    return rgs.select(
        (F.col("min_doc") / _DOCS_PER_RG).cast("long").alias("bucket"),
        F.col("n_rows"),
        F.col("min_doc"),
        F.col("max_doc"),
        (
            (F.col("min_doc") <= F.lit(_PRUNE_HI))
            & (F.col("max_doc") >= F.lit(_PRUNE_LO))
        ).alias("kept"),
    )


@register(
    "lake_footer_planned_scan",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_chars,
      (SELECT CAST(COUNT(DISTINCT doc_id // {_DOCS_PER_FILE}) AS BIGINT)
         FROM documents) AS n_files_total,
      CAST(COUNT(DISTINCT doc_id // {_DOCS_PER_FILE}) AS BIGINT) AS n_files_read
    FROM documents
    WHERE doc_id BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}
    """,
    doc="The pruning loop CLOSED: a footer-only pass over the staged "
    "documents lake picks the files whose [min_doc, max_doc] overlaps "
    f"the predicate [{_PRUNE_LO}, {_PRUNE_HI}], and the data scan then "
    "reads ONLY those (the kept-file list is the sole collect — a "
    "handful of path strings, the wikidump-index class). The answer "
    "columns prove both halves: n_docs/sum_text_chars must equal the "
    "full-scan answer (pruning lost nothing), and n_files_read vs "
    "n_files_total proves the scan footprint shrank to the overlapping "
    "files alone (at sf0.01: 2 of 4). tests/test_parquet_meta.py locks "
    "the plan by asserting the scan's inputFiles() is exactly the kept "
    "set. Within kept files, row-group pruning is delegated to Spark's "
    "own pushdown against the same footer stats this codec reads — "
    "stated, not duplicated.",
)
def lake_footer_planned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    lake = _stage_docs_lake(spark, sf_dir)
    files = _lake_files(lake)
    per_file = (
        _footer_rg_frame(spark, files)
        .groupBy("path")
        .agg(F.min("min_doc").alias("mn"), F.max("max_doc").alias("mx"))
        .where((F.col("mn") <= _PRUNE_HI) & (F.col("mx") >= _PRUNE_LO))
    )
    # The ONLY collect: the kept-path list, a few strings of metadata.
    kept = sorted(r.path for r in per_file.select("path").collect())
    if kept:
        docs = spark.read.parquet(*kept).where(
            F.col("doc_id").between(_PRUNE_LO, _PRUNE_HI)
        )
    else:
        docs = spark.createDataFrame([], "doc_id long, text string")
    return docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("sum_text_chars"),
        F.lit(len(files)).cast("long").alias("n_files_total"),
        F.lit(len(kept)).cast("long").alias("n_files_read"),
    )


@register(
    "lake_parquet_native_read",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, text, lang,
      CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="The REAL driver testdata — snappy-compressed, arrow-written "
    "parquet — read end-to-end by the own pure-Python stack: footer "
    "Thrift (parquet_meta.py) → page headers → snappy blocks "
    "(snappy.py, pure-algorithm codec) → PLAIN / RLE_DICTIONARY values "
    "with LSB-first hybrid runs (parquet_data.py). One task per row "
    "group, each range-reading exactly its column chunks' byte ranges "
    "(the parquet twin of the ORC stripe unit); the driver touches "
    "only the footer tail. Every doc_id/text/lang/n_chars must come "
    "back value-exact against the table itself — the engine verifying "
    "its own lake bytes with zero trust in the JVM reader that wrote "
    "them, the independence a 100 TB corruption audit needs.",
)
def lake_parquet_native_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parquet_data import read_row_group
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    path = table_path(sf_dir, "documents")
    # a lake table is a file OR a directory of part files — handle both
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(".")
        )
    else:
        files = [path]
    # metadata pass: footer tails only — a few KB per data file; the
    # task unit below is (file, row group)
    rows = []
    for f in files:
        meta = parse_file_meta(read_footer_tail(f))
        rows.extend((f, i) for i in range(len(meta["row_groups"])))
    want = ("doc_id", "text", "lang", "n_chars")
    from ..session import scan_partitions

    rgs = spark.createDataFrame(rows, "path string, rg int").repartition(
        scan_partitions(spark, len(rows))
    )

    def kernel(batches):
        import pandas as pd

        metas: dict[str, dict] = {}
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                meta = metas.get(r.path)
                if meta is None:
                    meta = parse_file_meta(read_footer_tail(r.path))
                    metas[r.path] = meta
                cols = read_row_group(r.path, meta, int(r.rg), set(want))
                out.extend(zip(*(cols[c] for c in want)))
            yield pd.DataFrame(out, columns=list(want))

    return rgs.mapInPandas(
        kernel, "doc_id long, text string, lang string, n_chars long"
    )


@register(
    "lake_parquet_zstd_native",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id, 'ZSTD' AS codec, text,
      CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="The documents lake re-staged with parquet's modern default "
    "codec — zstd — and read end-to-end by the own stack: footer "
    "Thrift → page headers → RFC 8878 frames (operators/zstd.py, the "
    "libzstd-cross-validated decoder) → PLAIN / RLE_DICTIONARY "
    "values. pyarrow (libzstd) writes the pages, this engine decodes "
    "them: every run is a reference-vs-own differential on real "
    "column chunks, value-checked to the table. Same plan shape as "
    "lake_parquet_native_read — footer tails to plan, one (file, row "
    "group) range-read per task; the codec column comes from each "
    "chunk's footer entry, so a producer silently drifting codecs "
    "would fail the oracle, not just slow the scan.",
)
def lake_parquet_zstd_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parquet_data import read_row_group
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    lake = _stage_docs_lake(spark, sf_dir, compression="zstd")
    rows = []
    for f in _lake_files(lake):
        meta = parse_file_meta(read_footer_tail(f))
        rows.extend((f, i) for i in range(len(meta["row_groups"])))
    want = ("doc_id", "text", "n_chars")
    rgs = _paths_df(spark, rows, "path string, rg int")

    def kernel(batches):
        import pandas as pd

        metas: dict[str, dict] = {}
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                meta = metas.get(r.path)
                if meta is None:
                    meta = parse_file_meta(read_footer_tail(r.path))
                    metas[r.path] = meta
                codec = meta["row_groups"][int(r.rg)]["columns"][0]["codec"]
                cols = read_row_group(r.path, meta, int(r.rg), set(want))
                out.extend(
                    (d, codec, t, n)
                    for d, t, n in zip(
                        cols["doc_id"], cols["text"], cols["n_chars"]
                    )
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "codec", "text", "n_chars"]
            )

    return rgs.mapInPandas(
        kernel, "doc_id long, codec string, text string, n_chars long"
    )


@register(
    "lake_parquet_embeddings_native",
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
    doc="The embeddings table — vec_id, a list<float> vector, label — "
    "read end-to-end by the own parquet stack, exercising the r14b "
    "REPETITION-LEVEL support: the standard three-level LIST shape "
    "(optional group / repeated group / optional element) reassembled "
    "from rep/def pairs into per-record vectors. This was the one "
    "driver testdata file the own stack could not read; now every "
    "table ships through it. The fingerprint is element-exact: "
    "floor(e*1000) summed per vector must match DuckDB's "
    "list_transform over the same file (float32→float64 widening and "
    "the double multiply are IEEE-identical in both), so one "
    "misplaced rep level — a vector boundary off by one element — "
    "shifts a fingerprint and flips the hash. One (file, row group) "
    "range-read per task, the family's standard 100 TB shape.",
)
def lake_parquet_embeddings_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.parquet_data import read_row_group
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    path = table_path(sf_dir, "embeddings")
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(".")
        )
    else:
        files = [path]
    rows = []
    for f in files:
        meta = parse_file_meta(read_footer_tail(f))
        rows.extend((f, i) for i in range(len(meta["row_groups"])))
    want = ("vec_id", "embedding.list.element", "label")
    rgs = _paths_df(spark, rows, "path string, rg int")

    def kernel(batches):
        import math

        import pandas as pd

        metas: dict[str, dict] = {}
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                meta = metas.get(r.path)
                if meta is None:
                    meta = parse_file_meta(read_footer_tail(r.path))
                    metas[r.path] = meta
                cols = read_row_group(r.path, meta, int(r.rg), set(want))
                for vid, vec, lbl in zip(
                    cols["vec_id"], cols["embedding.list.element"], cols["label"]
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

    return rgs.mapInPandas(
        kernel, "vec_id long, n_dims long, floor_sum long, label long"
    )


_CODEC_CYCLE = ("snappy", "gzip", "zstd", "lz4", "none")
_CODEC_NAMES = {"snappy": "SNAPPY", "gzip": "GZIP", "zstd": "ZSTD",
                "lz4": "LZ4_RAW", "none": "UNCOMPRESSED"}


def _stage_codec_matrix_lake(spark: SparkSession, sf_dir: str) -> str:
    """The documents lake with the page codec CYCLED per file — the
    mixed-producer reality of a long-lived lake (writers upgrade their
    default codec over the years; the table keeps every era's files)."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "n_chars")
            .withColumn(
                "file_id", F.floor(F.col("doc_id") / _DOCS_PER_FILE).cast("long")
            )
        )

        def write_file(pdf):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.sort_values("doc_id")
            fid = int(pdf["file_id"].iloc[0])
            comp = _CODEC_CYCLE[fid % len(_CODEC_CYCLE)]
            tbl = pa.Table.from_pandas(
                pdf.drop(columns=["file_id"]), preserve_index=False
            )
            buf = pa.BufferOutputStream()
            pq.write_table(
                tbl,
                buf,
                row_group_size=_DOCS_PER_RG,
                compression=comp,
                # alternate page versions too — the v1/v2 mixed-era lake
                data_page_version="2.0" if fid % 2 else "1.0",
            )
            write_atomic(path, f"{fid:05d}.parquet", buf.getvalue().to_pybytes())
            return pd.DataFrame({"file_id": [fid], "n": [len(pdf)]})

        d.groupBy("file_id").applyInPandas(
            write_file, "file_id long, n long"
        ).collect()

    return stage_fixture("pqlake_matrix", sf_dir, build)


@register(
    "lake_parquet_codec_matrix",
    oracle=f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CASE CAST((doc_id // {_DOCS_PER_FILE}) % 5 AS INT)
        WHEN 0 THEN 'SNAPPY' WHEN 1 THEN 'GZIP' WHEN 2 THEN 'ZSTD'
        WHEN 3 THEN 'LZ4_RAW' ELSE 'UNCOMPRESSED' END AS codec,
      CAST(length(text) AS BIGINT) AS n_chars_read
    FROM documents
    """,
    doc="The whole parquet codec matrix through the own stack in one "
    "query: the documents lake staged with the page codec CYCLED per "
    "file (SNAPPY / GZIP / ZSTD / LZ4_RAW / UNCOMPRESSED — the "
    "mixed-producer reality of a long-lived lake whose writers "
    "upgraded defaults over the years, HALF the files on data page "
    "v2 — the r14b seam closure), every file read end-to-end by "
    "footer Thrift → page headers → the matching own codec "
    "(snappy.py / zlib / zstd.py / lz4.py). The codec column comes "
    "from each chunk's FOOTER entry while the oracle recomputes it "
    "from the staging formula — so a codec misrouted to the wrong "
    "decoder cannot survive (the length check would explode first, "
    "and the label check catches even a silent survivor). One (file, "
    "row group) range-read per task, same 100 TB shape as the other "
    "native-read legs.",
)
def lake_parquet_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parquet_data import read_row_group
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    lake = _stage_codec_matrix_lake(spark, sf_dir)
    rows = []
    for f in _lake_files(lake):
        meta = parse_file_meta(read_footer_tail(f))
        rows.extend((f, i) for i in range(len(meta["row_groups"])))
    want = ("doc_id", "text")
    rgs = _paths_df(spark, rows, "path string, rg int")

    def kernel(batches):
        import pandas as pd

        metas: dict[str, dict] = {}
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                meta = metas.get(r.path)
                if meta is None:
                    meta = parse_file_meta(read_footer_tail(r.path))
                    metas[r.path] = meta
                codec = meta["row_groups"][int(r.rg)]["columns"][0]["codec"]
                cols = read_row_group(r.path, meta, int(r.rg), set(want))
                out.extend(
                    (d, codec, len(t))
                    for d, t in zip(cols["doc_id"], cols["text"])
                )
            yield pd.DataFrame(
                out, columns=["doc_id", "codec", "n_chars_read"]
            )

    return rgs.mapInPandas(
        kernel, "doc_id long, codec string, n_chars_read long"
    )


def _stage_torn_lake(spark: SparkSession, sf_dir: str) -> str:
    """Corrupt copies of the staged lake, one damage class per file_id%4:
    0 intact, 1 magic clipped, 2 footer length past start-of-file,
    3 footer Thrift scribbled with 0xFF."""
    src = _stage_docs_lake(spark, sf_dir)
    def build(path: str) -> None:
        files = _lake_files(src)
        paths = _paths_df(spark, [(p,) for p in files], "path string")

        def corrupt_part(rows):
            import struct as struct_

            for r in rows:
                with open(r.path, "rb") as fh:
                    blob = bytearray(fh.read())
                fid = int(os.path.basename(r.path).split(".")[0])
                mode = fid % 4
                if mode == 1:
                    blob[-1:] = b"0"  # PAR1 -> PAR0
                elif mode == 2:
                    blob[-8:-4] = struct_.pack("<I", len(blob))
                elif mode == 3:
                    flen = struct_.unpack("<I", bytes(blob[-8:-4]))[0]
                    start = len(blob) - 8 - flen
                    blob[start : start + min(64, flen)] = b"\xff" * min(64, flen)
                write_atomic(path, f"{fid:05d}.parquet", bytes(blob))

        paths.foreachPartition(corrupt_part)

    return stage_fixture("pqlake_torn", sf_dir, build)


@register(
    "lake_footer_quarantine",
    oracle=f"""
    WITH f AS (
      SELECT CAST(doc_id // {_DOCS_PER_FILE} AS BIGINT) AS file_id,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    )
    SELECT file_id,
      CASE CAST(file_id % 4 AS INT)
        WHEN 0 THEN 'ok' WHEN 1 THEN 'torn_magic'
        WHEN 2 THEN 'bad_length' ELSE 'bad_thrift' END AS status,
      CASE WHEN file_id % 4 = 0 THEN n END AS n_rows
    FROM f
    """,
    doc="Torn-tail quarantine for the footer walk: corrupt copies of the "
    "staged lake cycle three damage classes (magic clipped to PAR0, "
    "footer length pointing past the start of file, footer Thrift "
    "scribbled with 0xFF — the truncated-upload / bit-rot shapes) and "
    "the footer kernel keeps each loss to ONE quarantine record with a "
    "stable class tag, per the house one-bad-file-costs-one-record "
    "contract (ValueError, never a job abort). The oracle reconstructs "
    "the expected verdict per file from the deterministic staging "
    "pattern, so both the quarantine ROUTING and the intact files' "
    "footer row counts are hash-checked.",
)
def lake_footer_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parquet_meta import parse_file_meta, read_footer_tail

    torn = _stage_torn_lake(spark, sf_dir)
    files = _lake_files(torn)
    paths = _paths_df(spark, [(p,) for p in files], "path string")

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                fid = int(os.path.basename(r.path).split(".")[0])
                try:
                    meta = parse_file_meta(read_footer_tail(r.path))
                    out.append((fid, "ok", meta["num_rows"]))
                except ValueError as exc:
                    msg = str(exc)
                    if "missing PAR1" in msg:
                        status = "torn_magic"
                    elif "runs past" in msg:
                        status = "bad_length"
                    else:
                        status = "bad_thrift"
                    out.append((fid, status, None))
            yield pd.DataFrame(out, columns=["file_id", "status", "n_rows"])

    return paths.mapInPandas(kernel, "file_id long, status string, n_rows long")

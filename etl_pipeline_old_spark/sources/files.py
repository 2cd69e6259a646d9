"""File sources (S1-S3): CSV with header sanitation, JSON with
json_normalize-style flattening, the batch whole-file blob scan, and the
executor-side writers that stage blob fixtures for it.

Reference reads CSV with verbatim headers (BOM and all) and flattens JSON
into dotted column names via ``pd.json_normalize``
(datasets/create_scripts_dataset.ipynb:62-77). Here: schema-first reads,
header cleanup at the schema level, and real nested structs flattened with
explicit aliases (underscore-joined, since dots fight Spark's column-path
syntax).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.strings import sanitize_column_names
from ..session import blob_scan_partitions
from ..workdir import stage_fixture, write_atomic

BINARYFILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

# documents per staged shard: sf0.01 -> 20 shards, sf0.1 -> 200
SHARD_DOCS = 25


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    sep: str = ",",
) -> DataFrame:
    """S1: header CSV, UTF-8 (BOM tolerated), optional enforced schema.

    Schema-enforced reads give P14 semantics for free: missing trailing
    fields arrive as null instead of breaking the row.
    """
    r = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("encoding", "UTF-8")
        .option("multiLine", True)
        .option("escape", '"')
    )
    if schema is not None:
        r = r.schema(schema)
    return sanitize_column_names(r.csv(path))


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    multi_line: bool = False,
) -> DataFrame:
    """S3: JSON scan (multiLine for whole-file documents like the YouGile
    export, line-mode for JSONL)."""
    r = spark.read.option("multiLine", multi_line)
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def flatten_structs(df: DataFrame, sep: str = "_") -> DataFrame:
    """``pd.json_normalize`` analog: recursively flatten struct columns to
    top-level ``parent_child`` columns (arrays/maps left intact — explode
    is a deliberate, separate operation)."""
    cols = []

    def walk(prefix: list[str], dtype: T.DataType):
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                walk(prefix + [f.name], f.dataType)
        else:
            cols.append((prefix, sep.join(prefix)))

    for f in df.schema.fields:
        walk([f.name], f.dataType)
    return df.select(*[F.col(".".join(p)).alias(a) for p, a in cols])


def read_blobs(
    spark: SparkSession,
    path,
    suffix: str | None = None,
    *,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Batch ``binaryFile`` scan of the ``*.<suffix>`` files (or those
    matching ``glob``) under ``path``, packed into tasks by their bytes.

    Spark plans one split per 32 small files, however small, and every
    split becomes a Python-worker task downstream with its own fixed
    set-up and scheduling cost. The scan is coalesced to
    :func:`~.session.blob_scan_partitions` tasks instead.
    Its byte count is the relation's size statistic, the sum of file
    lengths from the listing the scan already made, so sizing runs no
    Spark job.
    """
    reader = spark.read.format("binaryFile")
    glob = glob or (suffix and f"*.{suffix}")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    qe = df._jdf.queryExecution()
    planned = qe.toRdd().getNumPartitions()
    n = blob_scan_partitions(
        qe.optimizedPlan().stats().sizeInBytes(),
        planned,
        spark.sparkContext.defaultParallelism,
        df._jdf.sparkSession().sessionState().conf().filesMaxPartitionBytes(),
    )
    return df.coalesce(n) if n < planned else df


def stage_doc_files(spark: SparkSession, sf_dir: str, kind: str, suffix, render) -> str:
    """Stage REAL files for every document, written from the executors
    (each task renders and writes its partition's docs — on a cluster
    this is the object-store upload half of a media corpus; the shared
    filesystem stands in for the bucket).

    ``render(doc_id, text)`` returns the bytes of ``{doc_id}.{suffix}``;
    with ``suffix`` None it returns a list of ``(file name, bytes)``, the
    sidecar shape (a .db plus its -wal, a clip plus its twin) that object
    stores really hold.  Staged once per process by
    :func:`~.workdir.stage_fixture`.
    """

    def build(path: str) -> None:
        def write_part(rows):
            for r in rows:
                out = render(r.doc_id, r.text)
                for name, blob in [(f"{r.doc_id}.{suffix}", out)] if suffix else out:
                    with open(os.path.join(path, name), "wb") as fh:
                        fh.write(blob)

        load_table(spark, sf_dir, "documents").select("doc_id", "text").foreachPartition(
            write_part
        )

    return stage_fixture(kind, sf_dir, build)


def stage_shard_files(
    spark: SparkSession, sf_dir: str, kind: str, build, suffix: str = "warc.gz"
) -> str:
    """Group documents into :data:`SHARD_DOCS`-doc shards and write one
    file per shard FROM THE EXECUTORS via an applyInPandas kernel (the
    crawler-fleet upload shape).

    ``build(pdf_sorted, sid)`` returns the bytes of ``{sid:05d}.{suffix}``
    (.warc.gz crawls, .tar WebDataset shards), or a ``(suffix, bytes)``
    pair when the container flavor varies per shard (the mixed-compression
    reality of mirrored corpora).  Writes go through
    :func:`~.workdir.write_atomic`, so retried or speculative attempts of
    one shard race only on the final rename.
    """

    def stage(path: str) -> None:
        def write_shard(pdf):
            import pandas as pd

            pdf = pdf.sort_values("doc_id")
            sid = int(pdf["shard"].iloc[0])
            out = build(pdf, sid)
            ext, blob = out if isinstance(out, tuple) else (suffix, out)
            write_atomic(path, f"{sid:05d}.{ext}", blob)
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "source")
            .withColumn("shard", F.floor(F.col("doc_id") / SHARD_DOCS).cast("int"))
            .groupBy("shard")
            .applyInPandas(write_shard, "shard int, n int")
            .collect()
        )

    return stage_fixture(kind, sf_dir, stage)

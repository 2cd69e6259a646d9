"""File sources (S1-S3): CSV with header sanitation, JSON with
json_normalize-style flattening, and the batch whole-file blob scan.

Reference reads CSV with verbatim headers (BOM and all) and flattens JSON
into dotted column names via ``pd.json_normalize``
(datasets/create_scripts_dataset.ipynb:62-77). Here: schema-first reads,
header cleanup at the schema level, and real nested structs flattened with
explicit aliases (underscore-joined, since dots fight Spark's column-path
syntax).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F

from ..functions.strings import sanitize_column_names
from ..session import blob_scan_partitions


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

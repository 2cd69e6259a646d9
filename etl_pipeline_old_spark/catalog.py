"""Table catalog over the driver testdata parquet directories.

Reference equivalent: the hardcoded ``raw_data/`` path block at the top of
every notebook (``/root/reference/datasets/create_scripts_dataset.ipynb:27-40``)
— the reference's "catalog" is a set of file paths. Here tables are lazy
DataFrames registered as temp views, so both the DataFrame API and
``spark.sql`` see the same relations and Catalyst prunes/pushes down into
the parquet scan.

TIMESTAMP(NANOS) handling: ``events.ts`` is stored as parquet
TIMESTAMP(NANOS,false), which Spark 4 cannot map to a Catalyst type. With
``spark.sql.legacy.parquet.nanosAsLong=true`` the column surfaces as BIGINT
nanoseconds; :func:`load_table` converts it back to a microsecond TIMESTAMP
(truncation — same semantics as DuckDB's read of the file). The conversion is
driven by the parquet footer's column types, not by a hardcoded column list.

Schema memo: a ``spark.read.parquet(path)`` without a schema runs a one-task
Spark job that infers the schema from the footer (about 95 ms warm on a
4-core VM, against 13 ms for a read given its schema). :func:`parquet_schema` pays that once per
file per session: it keeps Spark's own inferred ``StructType`` and the
footer's timestamp[ns] column names on the session object, keyed by the
file's realpath, inode, size and mtime (ns) and by the confs that change
parquet inference. A file replaced in place, or a flipped conf, is inferred
again; a directory path, or a path that cannot be stat'ed, is inferred on
every call.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import ensure_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# confs whose values change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)


def parquet_schema(spark: SparkSession, path: str) -> tuple[StructType, tuple[str, ...]]:
    """Spark's inferred schema of the parquet file at ``path`` and its
    timestamp[ns] column names, inferred once per file identity and
    inference confs in this session (see the module docstring)."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        st = None
    memo: dict = spark.__dict__.setdefault("_etl_parquet_schema_memo", {})
    ident = None
    if st is not None and stat.S_ISREG(st.st_mode):
        # stat before inferring: a file replaced in between is stored under
        # its old identity, so the next call sees a new one and infers again
        ident = (st.st_ino, st.st_size, st.st_mtime_ns, *map(spark.conf.get, _INFERENCE_CONFS))
        hit = memo.get(real)
        if hit is not None and hit[0] == ident:
            return hit[1]
    try:
        import pyarrow.parquet as pq

        footer = pq.read_schema(path)
        nanos = tuple(f.name for f in footer if str(f.type).startswith("timestamp[ns"))
    except Exception:
        nanos = ()
    found = (spark.read.parquet(path).schema, nanos)
    if ident is not None:
        memo[real] = (ident, found)
    return found


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def restore_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a parquet-sourced timestamp column to TIMESTAMP (UTC).

    Handles every annotation the driver testdata has shipped, so batch and
    streaming readers share one conversion (pure column exprs — codegen'd,
    streaming-safe):

    - BIGINT — legacy ``nanosAsLong`` read of TIMESTAMP(NANOS,false):
      integer-``div`` truncation to micros, matching DuckDB's nanos read
      (float division would lose precision at 1e18 ns);
    - TIMESTAMP_NTZ — TIMESTAMP(MICROS,false) read on a session where the
      pinned ``inferTimestampNTZ.enabled=false`` conf could not be applied:
      reinterpreted as UTC wall time (session tz is pinned UTC);
    - TIMESTAMP — unchanged.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing the event-time column.

    Data-model contract (SURVEY.md §1.2): ``events.ts`` is an *instant* —
    always surfaced as TIMESTAMP (UTC), whether the file stored nanos
    (legacy) or micros (current). Dimension/fact date columns
    (``l_shipdate``, ``o_orderdate``) are wall-clock values and keep
    Spark's native read type (TIMESTAMP_NTZ under default inference),
    matching DuckDB's naive read for the differential oracle.
    """
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    schema, nanos_cols = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for c in nanos_cols:
        df = restore_ts(df, c)
    if name == "events":
        df = restore_ts(df, "ts")
    return df


def events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """The events table as a file stream, ``ts`` normalized like
    :func:`load_table`. The file-stream source wants a directory, so it
    streams ``sf_dir`` with a glob filter selecting just the events file."""
    ensure_session_confs(spark)
    reader = spark.readStream.schema(parquet_schema(spark, table_path(sf_dir, "events"))[0])
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return restore_ts(reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir))


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    register_views: bool = False,
) -> dict[str, DataFrame]:
    out = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out

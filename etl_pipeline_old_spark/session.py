"""SparkSession factory.

Reference equivalent: the per-process pandas "session" set up at the top of
every extractor/notebook (``/root/reference/run.py:8-9`` sets ``ETL_ROOT``;
each notebook re-reads CSVs). Here a single SparkSession owns the whole
pipeline so Catalyst can fuse the chain (SURVEY.md §3.1).

Scale notes
-----------
- ``spark.sql.adaptive.enabled``: AQE re-plans joins/skew at runtime — the
  knob that makes the same code survive a 100 TB input.
- ``spark.sql.shuffle.partitions`` is 32 here (``_RUNTIME_CONFS``), with
  AQE coalescing the small stages; on a real cluster this should be ~2-3x
  total executor cores (or left to AQE coalescing).
- ``spark.sql.session.timeZone=UTC``: the reference treats naive timestamps
  as UTC (SURVEY.md §1.2); pinning UTC also aligns Spark TIMESTAMP with
  DuckDB's UTC-naive timestamps for the differential oracle.
- ``spark.sql.legacy.parquet.nanosAsLong``: earlier driver testdata stored
  ``events.ts`` as parquet TIMESTAMP(NANOS,false), which Spark 4 otherwise
  refuses to read; the catalog converts the long back to a timestamp. Current
  testdata stores it as TIMESTAMP(MICROS,false) (→ TIMESTAMP_NTZ under the
  default NTZ inference); :func:`~.catalog.restore_ts` normalizes either
  shape to a UTC TIMESTAMP, so both generations of testdata stay readable.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: PySpark's default
  wraps every DataFrame and Column call to capture its Python call site,
  which adds about five py4j round trips to each call (session lookup,
  JVM class lookup, conf read, origin set and clear). Off, an analysis
  error keeps its error class and message and loses only the
  ``file:line`` fragment of its DataFrame query context. PySpark reads the
  flag once per process, at its first wrapped call, so it is a builder
  conf rather than one of ``_RUNTIME_CONFS``.
- ``spark.executorEnv.PYTHONPATH``: local Python workers start in this
  process's working directory (on their path, as ``python -m`` runs them)
  with its ``PYTHONPATH``.  When neither leads to this package, e.g. a
  caller that put the package on ``sys.path`` in code, the directory that
  holds it is added, so workers can import ``worker_daemon``.  It is set
  only then, because PySpark sends every ``spark.executorEnv`` entry with
  each Python UDF, one py4j call apiece.  It is a directory, not a zip:
  the daemon keeps user zips on the path, and every zip there costs each
  task a zipimporter scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that queries depend on regardless of who built the session.  Applied
# both at build time and defensively (via ensure_session_confs) when we are
# handed a foreign session, e.g. the driver's.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Spark's 200 default drowns small/medium local runs in empty tasks;
    # AQE coalescing keeps this safe for large inputs too
    "spark.sql.shuffle.partitions": "32",
}


_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))


def _workers_find_package() -> bool:
    """Whether local workers reach this package from the working directory
    or ``PYTHONPATH`` they inherit (see the scale notes)."""
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == _PACKAGE_PARENT for p in entries)


def env_cpus(env=os.environ) -> int | None:
    """``$SPARK_GRAFT_CPUS`` as a core count, or None when it is unset.

    A set value must be a positive integer: an empty, zero, negative or
    non-numeric value raises instead of building ``local[0]`` or silently
    falling back to another count.
    """
    raw = env.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return None
    text = raw.strip()
    if not (text.isascii() and text.isdigit()) or int(text) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(text)


def default_parallelism() -> int:
    return env_cpus() or os.cpu_count() or 8


def get_spark(app_name: str = "etl_pipeline_old_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a cluster the
    master/memory settings come from spark-submit and only the SQL confs
    below matter.
    """
    n = cpus or default_parallelism()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Python workers import pyspark from site-packages, not pyspark.zip
        .config("spark.python.daemon.module", "etl_pipeline_old_spark.worker_daemon")
        # no per-call Python call-site capture (see the scale notes)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if not _workers_find_package():
        b = b.config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs this engine's plans assume on an existing session.

    All four confs are dynamic SQL confs, so setting them on a session we did
    not build (the verify driver's) is safe and takes effect for subsequent
    plans.
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # read-only conf on some builds — plans degrade gracefully
    # Implicit streaming checkpoints (memory-sink queries that pass no
    # checkpointLocation) land on the process scratch root — RAM-backed
    # when /dev/shm exists (workdir._pick_base) — instead of
    # java.io.tmpdir: takes the disk out of each micro-batch's WAL +
    # state-store writes (r15, guide §6). Only set when the session has
    # no value, so an operator-provided location always wins. Unlike
    # engine temp checkpoints these are not deleted at query stop; they
    # are per-run-unique (uuid query names), tiny at local scale, and
    # the scratch root is atexit-removed/reaped.
    try:
        if spark.conf.get("spark.sql.streaming.checkpointLocation", None) is None:
            from .workdir import cache_root

            spark.conf.set(
                "spark.sql.streaming.checkpointLocation",
                os.path.join(cache_root(), "stream_chk"),
            )
    except Exception:
        pass
    return spark


from contextlib import contextmanager  # noqa: E402


@contextmanager
def no_data_batches_disabled(spark: SparkSession):
    """Skip the watermark-advance no-data micro-batch for queries whose
    RESULT provably cannot depend on it (guide §1.2 — don't compute what
    you throw away):

    - COMPLETE-mode aggregations: every data batch re-emits the full
      state, so the final table after the last data batch already is the
      answer; the no-data batch re-scans the state and rewrites the sink
      with the identical rows.
    - INNER stream-stream joins: matches are emitted in the batch where
      both sides have arrived; the no-data batch only evicts state.

    NOT safe for append-mode windowed aggregations (they emit only
    watermark-closed windows — the no-data batch IS the closure) or
    outer stream-stream joins (outer rows emit on watermark passage);
    those queries keep the default.

    The conf is snapshotted by MicroBatchExecution at query start, so
    wrapping just the ``.start()`` is sufficient and the session value is
    restored for whatever query comes next.
    """
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def scan_partitions(spark: SparkSession, n_units: int | None = None) -> int:
    """Task count for an own-codec ranged scan (parquet row groups, ORC
    stripes, zstd frames, archive shards...).

    r14 verdict #7: these scans carried a hard ``min(n, 32)`` cap — a
    local-core-count constant that would serialize a 100 TB estate's
    millions of work units behind 32 tasks. The fan-out now scales with
    the session (4× its parallelism, so the unit-to-task packing still
    amortizes scheduling while the tail stays short), bounded by the
    unit count when known. Local behavior at the driver's bench core
    counts is unchanged: at 32 cores the bound is 128 and every sf0.1
    unit count is far below it; at the 8-core probe max(32, 32) = 32 —
    exactly the old cap.
    """
    par = spark.sparkContext.defaultParallelism
    cap = max(4 * par, 32)
    if n_units is None:
        return cap
    return max(1, min(n_units, cap))


def blob_scan_partitions(
    total_bytes: int, planned: int, parallelism: int, max_partition_bytes: int
) -> int:
    """Task count for a scan of whole-file blobs, sized by their bytes.

    Spark packs file splits as if every file cost
    ``spark.sql.files.openCostInBytes`` (4 MiB), so a corpus of small
    blobs plans one split per 32 files whatever their size, and each
    split is a Python-worker task with a fixed set-up cost. This rule is
    Spark's own sizing without that per-file charge: one task per core
    for a small corpus, ``bytes / maxPartitionBytes`` tasks for a large
    one, and never more tasks than the splits Spark planned.
    """
    by_bytes = -(-total_bytes // max_partition_bytes)
    return min(planned, max(parallelism, by_bytes))

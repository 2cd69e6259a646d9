"""PySpark-native analytics engine re-expressing the query semantics of
AtomicBim/etl-pipeline-old (reference snapshot at /root/reference, read-only).

The reference is a single-machine pandas ETL pipeline; this package rebuilds
its data model, operators, scalar functions, sinks, and incremental patterns
as idiomatic Spark (DataFrame / SQL / Catalyst / Structured Streaming),
designed for 100 TB-scale execution (broadcast joins for dims, pushdown-
friendly scans, no driver-side loops in the hot path).

Layout
------
- ``session``     : SparkSession factory (UTC tz, AQE, arrow).
- ``catalog``     : testdata parquet loader (handles TIMESTAMP(NANOS) files).
- ``registry``    : query registry mapping SURVEY.md §2 operators to
                    (PySpark callable, DuckDB oracle SQL) pairs.
- ``functions/``  : scalar expression library (SURVEY.md §2.9/§2.10).
- ``operators/``  : join/aggregate/window/dedup/similarity/text operators.
- ``sources/``    : file/JDBC/REST/Sheets source adapters.
- ``sinks/``      : overwrite + incremental high-watermark sinks.
- ``plans/``      : reference pipelines re-expressed end-to-end.
- ``streaming/``  : Structured Streaming equivalents of the incremental path.
- ``worker_daemon``: Python-worker daemon of the engine's sessions. It loads
                    this package before it settles the worker's ``sys.path``,
                    so this module must import nothing (pyspark above all).
"""

__version__ = "0.1.0"

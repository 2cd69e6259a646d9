"""Structured Streaming over the events table.

The reference's only "stream" is incremental batch keyed on a monotone id
(fetch_asterisk_cdr.py:39-58). Its streaming-native equivalent: a
readStream over the event log with a watermark + windowed aggregation
(SURVEY.md §2.11). For deterministic local verification the stream is
driven to completion with ``processAllAvailable`` against a memory sink;
on a cluster the same plan runs against Kafka/files with a real trigger.

``ts`` is normalized to TIMESTAMP via :func:`~..catalog.restore_ts`
exactly like the batch catalog does (handles both the TIMESTAMP(NANOS)
nanosAsLong BIGINT read and the TIMESTAMP(MICROS) read).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_stream
from ..session import no_data_batches_disabled


def tumbling_window_counts(
    spark: SparkSession, sf_dir: str, window: str = "6 hours", watermark: str = "30 minutes"
) -> DataFrame:
    """Windowed counts/sums per event_type with a watermark, complete mode.

    Complete output mode makes the final memory-sink state equal the batch
    answer over the same data — which is exactly what the DuckDB oracle
    (time_bucket group-by) computes, so this streaming query is value-hash
    verified, not just smoke-checked.
    """
    agg = (
        events_stream(spark, sf_dir, max_files_per_trigger=1)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    # complete mode: the last data batch already emitted the full answer —
    # the watermark-advance no-data batch would re-scan the window state
    # and rewrite the identical sink table (r15, see session helper)
    with no_data_batches_disabled(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    return out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def append_mode_with_watermark(
    spark: SparkSession, sf_dir: str, window: str = "6 hours", watermark: str = "30 minutes"
) -> DataFrame:
    """Append-mode variant: only windows the watermark has closed are
    emitted — demonstrates late-data finalization semantics (windows still
    open when the stream drains are withheld, so the result is a strict
    prefix of the complete-mode answer). Rows-only check (not expressible
    as a pure batch SQL oracle by design)."""
    agg = (
        events_stream(spark, sf_dir, max_files_per_trigger=1)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
    )
    name = f"stream_append_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    return out.select(
        F.col("window.start").alias("window_start"), "event_type", "n_events"
    )


def sliding_window_counts(
    spark: SparkSession,
    sf_dir: str,
    window: str = "6 hours",
    slide: str = "3 hours",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (hopping) windows: width > slide, so every event lands in
    width/slide windows (2 here). Complete mode + availableNow drains the
    log, so the final state equals the batch answer — each event expanded
    to both its window starts — which the DuckDB oracle computes directly.

    Scale: state size is (n_windows_open × groups), NOT events — the
    overlap multiplies the aggregation fan-out (×2), never the raw stream.
    """
    agg = (
        events_stream(spark, sf_dir, max_files_per_trigger=1)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    name = f"stream_slide_{uuid.uuid4().hex[:8]}"
    # complete mode: no-data batch result-invariant (see tumbling above)
    with no_data_batches_disabled(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )

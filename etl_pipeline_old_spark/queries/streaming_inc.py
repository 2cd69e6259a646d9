"""Registry entries: Structured Streaming equivalents, sessionization, and
the incremental high-watermark sink cycle (SURVEY.md §2.11, K2/K5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..workdir import run_dir
from ..catalog import load_table
from ..registry import register
from ..sinks.incremental import incremental_append, read_evolved
from ..streaming.events import append_mode_with_watermark, tumbling_window_counts

_6H_US = 6 * 3600 * 1_000_000


@register(
    "stream_tumbling_window_counts",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts) // {_6H_US}) * {_6H_US}) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="§2.11: Structured Streaming tumbling-window aggregation (6h windows, "
    "30min watermark, complete mode, availableNow trigger over the event "
    "log). Complete mode makes the drained stream equal the batch answer, "
    "so the streaming engine itself is value-hash-checked against DuckDB.",
)
def stream_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_window_counts(spark, sf_dir)


@register(
    "stream_append_watermark",
    # Append mode emits exactly the windows the final watermark has closed.
    # With availableNow draining the whole log, the final watermark is
    # max(event_time_ms) - 30min (Spark tracks event time in ms), so the
    # emitted set IS batch-expressible: 6h windows whose end <= watermark.
    # (An exact microsecond tie between a window end and the watermark could
    # distinguish <= from < — measure-zero on real event data.)
    oracle=f"""
    WITH w AS (SELECT max(epoch_ms(ts)) - 30*60*1000 AS wm_ms FROM events)
    SELECT make_timestamp((epoch_us(ts) // {_6H_US}) * {_6H_US}) AS window_start,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    HAVING (epoch_us(window_start) + {_6H_US}) // 1000 <= (SELECT wm_ms FROM w)
    """,
    doc="§2.11: append-mode + watermark — only finalized windows are "
    "emitted; demonstrates late-data closure semantics. Value-hash checked "
    "against the batch equivalent (windows closed by the final watermark), "
    "the same technique as stream_session_window.",
)
def stream_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return append_mode_with_watermark(spark, sf_dir)


# Boundary convention: an event EXACTLY ``gap`` after its predecessor starts
# a NEW session. This matches Spark's session_window, whose per-event windows
# [t, t+gap) merge only when they OVERLAP — touching endpoints don't merge —
# so the lag-gap formulations below use ``>= SESSION_GAP_US`` for the
# new-session predicate (not ``>``), keeping batch, streaming, and oracle
# definitions the same function even on exact-boundary timestamps.
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "stream_session_window",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM g)
    SELECT user_id,
           make_timestamp(min(epoch_us(ts))) AS session_start,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
    doc="§2.11: streaming session windows (session_window(ts, 30 min) per "
    "user, complete mode) — the stream drained with availableNow equals "
    "the batch lag-gap sessionization, hash-checked.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..catalog import events_stream
    from ..session import no_data_batches_disabled

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
    )
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    # complete mode: the no-data batch re-emits the identical state (r15)
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
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
    )


@register(
    "sessionization",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      FROM g)
    SELECT user_id, session_id, count(*) AS n_events,
           min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
    FROM s GROUP BY user_id, session_id
    """,
    doc="Sessionization via lag-gap + running sum (the batch form of "
    "streaming session windows; gap = 30 min).",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    # ONE lag expression: lag(ts_us) is null exactly on each partition's
    # first row, so a second lag("ts") null-probe would double the window
    # buffer for nothing
    prev_us = F.lag(ts_us).over(w)
    new_s = F.when(
        prev_us.isNull() | ((ts_us - prev_us) >= SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    sessions = ev.withColumn("new_session", new_s).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(ts_us).alias("start_us"),
        F.max(ts_us).alias("end_us"),
    )


CUTOFF = "2024-01-15 00:00:00"


@register(
    "k5_incremental_idempotency",
    oracle=f"""
    SELECT count(*) AS total_rows,
           sum(CASE WHEN ts > TIMESTAMP '{CUTOFF}' THEN 1 ELSE 0 END)::BIGINT AS second_added,
           0::BIGINT AS third_added
    FROM events
    """,
    doc="K2/K5 end-to-end: bootstrap the target with events <= cutoff, "
    "incrementally append the full feed (only rows above the high "
    "watermark land), re-run (0 rows — idempotent). The driver hash-checks "
    "the final counts (ref: fetch_asterisk_cdr.py:39-68; "
    "create_projectsync_dataset.ipynb:385-441).",
)
def k5_incremental_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    target = run_dir("incr", sf_dir)

    first = ev.filter(F.col("ts") <= F.lit(CUTOFF).cast("timestamp"))
    incremental_append(first, target, "ts", spark)
    second_added = incremental_append(ev, target, "ts", spark)
    third_added = incremental_append(ev, target, "ts", spark)
    total = read_evolved(spark, target).count()

    return spark.createDataFrame(
        [(total, second_added, third_added)],
        "total_rows long, second_added long, third_added long",
    )

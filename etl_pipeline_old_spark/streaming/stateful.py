"""Stateful Structured Streaming operators (SURVEY.md §2.11 extension).

The reference's incremental CDR pull deduplicates by a monotone key
against the already-loaded file (fetch_asterisk_cdr.py:39-58). Its
streaming-native form is stateful streaming deduplication: the engine
keeps the seen-key set as managed state and drops replays exactly-once.

Also here: a custom stateful operator via ``applyInPandasWithState``
(running per-user aggregates across micro-batches) — the extension point
for operators Spark's built-ins can't express.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..workdir import run_dir
from ..catalog import events_stream, parquet_schema, restore_ts, table_path
from ..session import ensure_session_confs


def _duplicated_event_feed(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Stage the events table TWICE (two files) so the stream sees every
    record replayed — the dedup operator must emit each exactly once."""
    src = table_path(sf_dir, "events")
    feed = run_dir("dup_feed", sf_dir)
    os.makedirs(feed)
    shutil.copy(src, os.path.join(feed, "batch1.parquet"))
    shutil.copy(src, os.path.join(feed, "batch2.parquet"))
    return feed, parquet_schema(spark, src)[0]


def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dropDuplicates over a deliberately duplicated
    feed: 2x rows in, each event out exactly once. The managed dedup state
    is the streaming-native high-watermark of K2."""
    ensure_session_confs(spark)
    feed, schema = _duplicated_event_feed(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches → state crosses batches
        .parquet(feed)
    )
    stream = restore_ts(stream)
    deduped = stream.select("event_id", "user_id", "event_type").dropDuplicates(["event_id"])
    name = f"dedup_out_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def _running_totals(key, pdfs, state: GroupState):
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [total]})


def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) carried across micro-batches as explicit state —
    the escape hatch for stateful logic built-in aggregations can't
    express. Emits one row per (user, batch); the LAST row per user is
    the exact batch answer (asserted in tests)."""
    stream = events_stream(spark, sf_dir, max_files_per_trigger=1)
    updated = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name = f"running_{uuid.uuid4().hex[:8]}"
    q = (
        updated.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # keep the final state per user: the cumulative totals after the last
    # batch that touched that user (rows arrive in batch order; aggregate
    # with max since counts are monotone)
    out = spark.table(name)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max("total_value"), 2).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------


def transform_with_state_supported() -> bool:
    """The Spark 4 ``transformWithStateInPandas`` API needs the
    ``protobuf`` package for its state-server wire format; absent from
    this container (no installs), so the operator below is gated. The
    working stateful path in this environment is
    ``applyInPandasWithState`` (stream_running_totals)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def stream_user_profile_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user profile (event count, first/last seen micros) via the
    Spark 4 ``transformWithStateInPandas`` StatefulProcessor API, state
    crossing two micro-batches (the feed is staged twice).

    Integer-only outputs — exactly comparable to a batch oracle: with the
    doubled feed, n_events = 2·count(*), first/last unchanged.

    Requires ``protobuf`` (see :func:`transform_with_state_supported`);
    raises ImportError otherwise. RocksDB state store is mandatory for
    this operator class.
    """
    if not transform_with_state_supported():
        raise ImportError(
            "transformWithStateInPandas needs the 'protobuf' package, "
            "which is not available in this environment"
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._st = handle.getValueState(
                "profile", "n BIGINT, first_us BIGINT, last_us BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._st.exists():
                n, first_us, last_us = self._st.get()
            else:
                n, first_us, last_us = 0, None, None
            for pdf in rows:
                n += len(pdf)
                mn, mx = int(pdf["ts_us"].min()), int(pdf["ts_us"].max())
                first_us = mn if first_us is None else min(first_us, mn)
                last_us = mx if last_us is None else max(last_us, mx)
            self._st.update((n, first_us, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "first_us": [first_us],
                    "last_us": [last_us],
                }
            )

        def close(self):
            pass

    ensure_session_confs(spark)
    feed, schema = _duplicated_event_feed(spark, sf_dir)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # 2 micro-batches → state crosses batches
        .parquet(feed)
    )
    stream = restore_ts(stream).select("user_id", F.unix_micros("ts").alias("ts_us"))
    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfile(),
        outputStructType="user_id BIGINT, n_events BIGINT, first_us BIGINT, last_us BIGINT",
        outputMode="Update",
        timeMode="None",
    )
    name = f"tws_out_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode emits one row per (user, batch); keep each user's final
    # state (n_events is strictly increasing per user)
    res = spark.table(name)
    return res.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )


def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once delivery via SINK-side idempotency: ``foreachBatch``
    anti-join-merges every micro-batch into a parquet target keyed by
    event_id, so replays (the feed is staged twice) write zero rows.

    This is the production pattern for exactly-once into non-transactional
    stores — the streaming-driven form of the reference's monotone-key
    incremental append (fetch_asterisk_cdr.py:39-58), with the dedup done
    by the sink merge instead of engine state (contrast
    :func:`stream_dedup_exactly_once`, which holds the seen-key set as
    managed streaming state).
    """
    ensure_session_confs(spark)
    feed, schema = _duplicated_event_feed(spark, sf_dir)
    target = run_dir("dup_feed_target", sf_dir)
    chk = run_dir("dup_feed_chk", sf_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches: write + replay
        .parquet(feed)
        .select("event_id", "user_id", "event_type")
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if os.path.exists(target):
            existing = s.read.parquet(target).select("event_id")
            novel = batch_df.join(existing, "event_id", "left_anti")
        else:
            novel = batch_df
        novel.write.mode("append").parquet(target)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(target)


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup via ``dropDuplicatesWithinWatermark``.

    Same duplicated two-micro-batch feed as :func:`stream_dedup_exactly_once`,
    but the seen-key state is EVICTED once the watermark passes an event's
    time plus the delay — the 100 TB-capable form of streaming dedup:
    plain ``dropDuplicates`` keys state forever (state ∝ all-time distinct
    keys), while the watermark variant bounds state to the delay window
    (state ∝ keys per 90 days here). The testdata spans 30 days, so no
    event is ever late and every replay lands inside its original's
    window → output equals exact global dedup, which the oracle checks.
    """
    ensure_session_confs(spark)
    feed, schema = _duplicated_event_feed(spark, sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # 2 micro-batches → state crosses batches
        .parquet(feed)
    )
    stream = restore_ts(stream)
    deduped = (
        stream.select("event_id", "user_id", "event_type", "ts")
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"dedup_wm_out_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("event_id", "user_id", "event_type")

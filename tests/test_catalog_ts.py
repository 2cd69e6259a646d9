"""catalog.restore_ts must keep BOTH testdata generations readable: the
legacy TIMESTAMP(NANOS,false) files (read as BIGINT under nanosAsLong) and
the current TIMESTAMP(MICROS,false) files (read as TIMESTAMP_NTZ under
default inference). Either way the surfaced column is a UTC TIMESTAMP with
identical micros."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_pipeline_old_spark.catalog import load_table, restore_ts

US = [1_700_000_000_000_000, 1_700_000_000_123_456]


def _write(tmp_path, unit):
    vals = [v * 1000 for v in US] if unit == "ns" else list(US)
    t = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(vals, pa.timestamp(unit)),
        }
    )
    d = tmp_path / f"sf_{unit}"
    d.mkdir()
    pq.write_table(t, str(d / "events.parquet"))
    return str(d)


def test_load_table_reads_nanos_and_micros_identically(spark, tmp_path):
    frames = {}
    for unit in ("ns", "us"):
        df = load_table(spark, _write(tmp_path, unit), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", unit
        frames[unit] = {
            r["event_id"]: r["us"]
            for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
        }
    assert frames["ns"] == frames["us"] == {1: US[0], 2: US[1]}


def test_restore_ts_is_noop_on_plain_timestamp(spark):
    df = spark.range(1).select(F.timestamp_micros(F.lit(US[0])).alias("ts"))
    out = restore_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    assert out.select(F.unix_micros("ts").alias("us")).first()["us"] == US[0]


def test_load_table_sees_a_file_replaced_in_place(spark, tmp_path):
    # a table rewritten at the same path must not keep the old file's
    # timestamp[ns] columns: an int64 column would be read as a timestamp
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"x": pa.array([US[0] * 1000], pa.timestamp("ns"))}), path)
    assert dict(load_table(spark, str(tmp_path), "orders").dtypes)["x"] == "timestamp"
    pq.write_table(pa.table({"x": pa.array([42], pa.int64())}), path)
    df = load_table(spark, str(tmp_path), "orders")
    assert dict(df.dtypes)["x"] == "bigint"
    assert df.first()["x"] == 42

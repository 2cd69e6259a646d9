"""The catalog's parquet schema memo: ``load_table`` infers a file's schema
with one Spark job the first time and reuses Spark's own answer after that,
for as long as the file and the inference confs stay the same. Sink
read-backs are given the written frame's schema instead of inferring it,
and the engine session captures no Python call sites."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled

from etl_pipeline_old_spark.catalog import TABLES, load_table, parquet_schema, table_path
from etl_pipeline_old_spark.plans.orchestrator import run_pipeline

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def _ts_file(tmp_path, unit: str) -> str:
    vals = [1_700_000_000_000_000, 1_700_000_000_123_456]
    if unit == "ns":
        vals = [v * 1000 for v in vals]
    path = str(tmp_path / f"events_{unit}.parquet")
    pq.write_table(pa.table({"event_id": [1, 2], "ts": pa.array(vals, pa.timestamp(unit))}), path)
    return path


@contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: _jobs_in(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs_in(spark, group: str) -> int:
    # job-start events reach the status store through the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _conf(spark, key: str, value: str):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_memoized_schema_is_sparks_inferred_schema(spark, sf_dir):
    for name in TABLES:
        path = table_path(sf_dir, name)
        first = parquet_schema(spark, path)
        assert parquet_schema(spark, path) is first  # memo hit
        assert first[0] == spark.read.parquet(path).schema, name


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_memoized_schema_of_both_timestamp_generations(spark, tmp_path, unit):
    path = _ts_file(tmp_path, unit)
    schema, nanos_cols = parquet_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert nanos_cols == (("ts",) if unit == "ns" else ())


def test_second_load_of_a_file_runs_no_spark_job(spark, tmp_path):
    shutil.copy(table_path(SF_DIRS[0], "orders"), tmp_path / "orders.parquet")
    sf_dir = str(tmp_path)
    with _job_group(spark, "catalog-memo-first") as jobs:
        load_table(spark, sf_dir, "orders")
        assert jobs() == 1
    with _job_group(spark, "catalog-memo-second") as jobs:
        load_table(spark, sf_dir, "orders")
        assert jobs() == 0


def test_concurrent_loads_share_one_memo(spark, tmp_path):
    # the orchestrator loads tables from several threads at once
    names = ("region", "nation", "supplier", "orders")
    for name in names:
        shutil.copy(table_path(SF_DIRS[0], name), tmp_path / f"{name}.parquet")
    sf_dir = str(tmp_path)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            frames = list(pool.map(lambda n: (n, load_table(spark, sf_dir, n)), names * 6))
    finally:
        sys.setswitchinterval(old)
    inferred = {n: spark.read.parquet(table_path(sf_dir, n)).schema for n in names}
    assert all(df.schema == inferred[name] for name, df in frames)
    memo = spark.__dict__["_etl_parquet_schema_memo"]
    for name in names:
        assert memo[os.path.realpath(table_path(sf_dir, name))][1][0] == inferred[name]


def test_flipping_an_inference_conf_infers_again(spark, tmp_path):
    pq.write_table(pa.table({"k": [1], "b": pa.array([b"ab"], pa.binary())}), str(tmp_path / "part.parquet"))
    sf_dir = str(tmp_path)
    key = "spark.sql.parquet.binaryAsString"
    with _conf(spark, key, "false"):
        assert dict(load_table(spark, sf_dir, "part").dtypes)["b"] == "binary"
    with _conf(spark, key, "true"):
        df = load_table(spark, sf_dir, "part")
        assert dict(df.dtypes)["b"] == "string"
        assert df.first()["b"] == "ab"


def test_directory_path_is_inferred_without_a_memo(spark, tmp_path):
    out = str(tmp_path / "dir_table")
    spark.range(3).write.parquet(out)
    schema, nanos_cols = parquet_schema(spark, out)
    assert schema == spark.read.parquet(out).schema and nanos_cols == ()
    assert os.path.realpath(out) not in spark.__dict__.get("_etl_parquet_schema_memo", {})


def test_sink_read_back_with_written_schema_equals_inferred(spark, tmp_path):
    out_dir = str(tmp_path / "lake")
    outputs = run_pipeline(spark, SF_DIRS[0], out_dir)
    assert len(outputs) == 7
    for name, df in outputs.items():
        path = os.path.join(out_dir, name)
        given = spark.read.schema(df.schema).parquet(path)
        assert given.schema == spark.read.parquet(path).schema, name
        assert given.count() == df.count(), name


def test_unresolved_column_still_raises_with_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select("no_such_column").schema
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")

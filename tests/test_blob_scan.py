"""Byte-sized blob scans and the strict core-count parse they sit beside
(session.blob_scan_partitions, sources.files.read_blobs, session.env_cpus)."""

from __future__ import annotations

import pytest

from etl_pipeline_old_spark.registry import QUERIES, _ensure_loaded
from etl_pipeline_old_spark.session import blob_scan_partitions, env_cpus

from .oracle_utils import compare, duckdb_conn

_MIB = 1 << 20
_MAX_PARTITION = 128 * _MIB


def test_tiny_corpus_gets_one_task_per_core():
    # ~500 blobs of ~2 KiB: Spark plans 16 splits (32 files per 4 MiB-charged
    # split); by bytes they are one task's worth, so one task per core
    assert blob_scan_partitions(500 * 2048, 16, 4, _MAX_PARTITION) == 4


def test_large_corpus_gets_bytes_over_max_partition_tasks():
    total = 100 * 10**12  # 100 TB
    planned = 10**9  # far more splits than the byte rule asks for
    want = -(-total // _MAX_PARTITION)
    assert blob_scan_partitions(total, planned, 256, _MAX_PARTITION) == want


@pytest.mark.parametrize(
    "total, planned, parallelism",
    [(0, 0, 4), (10, 1, 4), (500 * 2048, 3, 8), (10**15, 7, 64), (10**12, 10**6, 1)],
)
def test_never_above_planned_splits(total, planned, parallelism):
    assert blob_scan_partitions(total, planned, parallelism, _MAX_PARTITION) <= planned


def test_png_ingest_scan_runs_one_task_per_core_and_matches_oracle(
    spark, oracle_sf_dir
):
    _ensure_loaded()
    q = QUERIES["multimodal_png_ingest"]
    df = q.fn(spark, oracle_sf_dir)  # stages the fixture outside the group
    sc = spark.sparkContext
    group = "test_png_ingest_blob_scan"
    con = duckdb_conn(oracle_sf_dir)
    sc.setJobGroup(group, group)
    try:
        ok, msg = compare(df, con, q.oracle)
    finally:
        sc.setJobGroup("", "")
        con.close()
    assert ok, msg
    tracker = sc.statusTracker()
    stages = [
        s
        for j in tracker.getJobIdsForGroup(group)
        for s in tracker.getJobInfo(j).stageIds
    ]
    tasks = [tracker.getStageInfo(s).numTasks for s in stages]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks


@pytest.mark.parametrize("raw, want", [(None, None), ("4", 4), (" 8 ", 8)])
def test_env_cpus_accepts_unset_or_positive(raw, want):
    env = {} if raw is None else {"SPARK_GRAFT_CPUS": raw}
    assert env_cpus(env) == want


@pytest.mark.parametrize("raw", ["", "  ", "0", "-2", "four", "2.5", "+3"])
def test_env_cpus_rejects_bad_values(raw):
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        env_cpus({"SPARK_GRAFT_CPUS": raw})


def test_default_parallelism_uses_the_strict_parse(monkeypatch):
    from etl_pipeline_old_spark import session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    with pytest.raises(ValueError):
        session.default_parallelism()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3

"""Registry entry: the full-pipeline orchestrator (run.py equivalent) —
every reference dataset built and loaded in one call, summarized as
(dataset, n_rows) and hash-checked against the composed oracles."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..workdir import run_dir
from ..plans.orchestrator import run_pipeline
from ..plans.pipelines import LOGS_PIPELINE_ORACLE
from ..plans.pipelines2 import GITLAB_ORACLE, PROJECTSYNC_ORACLE, SCRIPTS_ORACLE
from ..registry import register
from .pipelines2 import _YOUGILE_ORACLE

_ORACLE = f"""
SELECT 'scripts' AS dataset, count(*) AS n_rows FROM ({SCRIPTS_ORACLE})
UNION ALL
SELECT 'scripts_bim', count(*) FROM ({SCRIPTS_ORACLE}) WHERE is_bim = 1
UNION ALL
SELECT 'scripts_designers', count(*) FROM ({SCRIPTS_ORACLE}) WHERE is_bim = 0
UNION ALL
SELECT 'gitlab', count(*) FROM ({GITLAB_ORACLE})
UNION ALL
SELECT 'projectsync', count(*) FROM ({PROJECTSYNC_ORACLE})
UNION ALL
SELECT 'yougile', count(*) FROM ({_YOUGILE_ORACLE})
UNION ALL
SELECT 'logs', count(*) FROM ({LOGS_PIPELINE_ORACLE})
"""


@register(
    "run_full_pipeline",
    oracle=_ORACLE,
    doc="run.py equivalent (SURVEY §3.1): builds ALL reference datasets in "
    "one SparkSession, full-refreshes each to the datalake dir (K4), and "
    "reports per-dataset row counts read back from the sink — the whole "
    "reference pipeline as one driver program, hash-checked against the "
    "composed dataset oracles.",
)
def run_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-process session root (workdir.py): reruns in this process
    # overwrite; dead processes' roots are reaped, atexit removes ours
    out_dir = run_dir("datalake", sf_dir)
    outputs = run_pipeline(spark, sf_dir, out_dir)
    names = (
        "scripts",
        "scripts_bim",
        "scripts_designers",
        "gitlab",
        "projectsync",
        "yougile",
        "logs",
    )
    # the seven read-back counts are independent metadata-cheap jobs over
    # independent sinks — run them concurrently (guide §2.6); output order
    # stays the reference's fixed dataset order. Each read is given its
    # written frame's schema, which Spark stored in the footers, so no read
    # runs a schema-inference job.
    from concurrent.futures import ThreadPoolExecutor

    def _count(name: str) -> int:
        path = os.path.join(out_dir, name)
        return spark.read.schema(outputs[name].schema).parquet(path).count()

    with ThreadPoolExecutor(max_workers=4) as pool:
        counts = list(pool.map(_count, names))
    parts = list(zip(names, counts))
    return spark.createDataFrame(parts, "dataset string, n_rows long")

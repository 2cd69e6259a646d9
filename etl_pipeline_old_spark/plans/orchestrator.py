"""The engine's ``run.py`` equivalent (SURVEY.md §3.1).

The reference orchestrates extractors + five notebooks as separate OS
processes communicating through a file landing zone, aborting on first
failure (run.py:11-27, check=True). Here the whole pipeline is ONE driver
program over ONE SparkSession: each dataset is a lazy plan; only the sink
writes are actions; failures propagate naturally. The file landing zone
becomes an optional bronze layer (parquet dir).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

from ..sinks.incremental import full_refresh
from . import pipelines as P1
from . import pipelines2 as P2

# dataset name → builder, in the reference's execution order
# (run.py:31: scripts, gitlab, projectsync, yougile, logs)
DATASETS = {
    "scripts": P2.scripts_pipeline,
    "gitlab": P2.gitlab_lines_pipeline,
    "projectsync": P2.projectsync_pipeline,
    "yougile": P2.yougile_pipeline,
    "logs": P1.logs_pipeline,
}


# the scripts frame persisted by each thread's most recent out_dir=None
# run: kept so that thread's NEXT run can release it before pinning a
# fresh copy — without this, repeated library calls would accumulate one
# InMemoryRelation of the full 3-join scripts dataset per call for the
# session's lifetime. The CURRENT run's cache intentionally outlives the
# call (the returned split frames read from it lazily); callers wanting
# it gone sooner can unpersist outputs['scripts'] themselves. Keyed BY
# THREAD so a run can only ever release its own thread's prior cache —
# a concurrent builder on another thread can never lose its still-live
# cache mid-build (ADVICE r5; a shared LIFO guarded by the same lock
# would still let the second caller pop the first caller's entry). The
# dict stays tiny: one entry per thread that ever built out_dir=None.
_LAST_SCRIPTS_CACHE: dict[int, DataFrame] = {}
_SCRIPTS_CACHE_LOCK = threading.Lock()


def _build_one(
    spark: SparkSession, sf_dir: str, out_dir: str | None, name: str
) -> dict[str, DataFrame]:
    """Build (and optionally load) one dataset; 'scripts' also produces its
    bim/designers split sinks (the notebook's 3-way load,
    create_scripts_dataset.ipynb:233-234,261-319)."""
    df = DATASETS[name](spark, sf_dir)
    if out_dir is not None:
        full_refresh(df, os.path.join(out_dir, name))
    out = {name: df}
    if name == "scripts":
        # The splits FILTER THE WRITTEN MAIN TABLE, not the logical plan:
        # re-filtering `df` would recompute the whole 3-join pipeline once
        # per sink (3× the work at any scale), whereas a scan of the
        # just-written parquet is a pruned columnar read — the lake itself
        # is the cheapest cache. (The third notebook sink, the plugin dim,
        # is the enrich input — covered by the main frame.) With no sink
        # dir there is no written table to read back, so the frame is
        # persisted instead: the join chain executes once and both splits
        # (and the caller's own actions on the main frame) scan the cache.
        # The read-back is given the written frame's schema: Spark stores
        # it in the footers it writes, so inferring it would run a Spark
        # job to find the same schema.
        from pyspark.sql import functions as F

        if out_dir is not None:
            src = spark.read.schema(df.schema).parquet(os.path.join(out_dir, name))
        else:
            tid = threading.get_ident()
            with _SCRIPTS_CACHE_LOCK:
                prev = _LAST_SCRIPTS_CACHE.pop(tid, None)
                if prev is not None:
                    prev.unpersist()
                # reap entries pinned by threads that no longer exist —
                # without this, builds issued from many short-lived threads
                # would each pin a full persisted scripts InMemoryRelation
                # for the session lifetime (ADVICE r6)
                live = {t.ident for t in threading.enumerate()}
                for dead in [t for t in _LAST_SCRIPTS_CACHE if t not in live]:
                    _LAST_SCRIPTS_CACHE.pop(dead).unpersist()
                src = df.persist()
                _LAST_SCRIPTS_CACHE[tid] = src
        halves = (
            ("scripts_bim", F.col("is_bim") == 1),
            ("scripts_designers", F.col("is_bim") == 0),
        )
        if out_dir is not None:
            # the two split writes are independent jobs over independent
            # sinks (both scan the just-written main table) — submit them
            # concurrently so the wall is max, not sum (guide §2.6:
            # overlap independent jobs; the second write's tasks back-fill
            # cores freed by the first's tail)
            from concurrent.futures import ThreadPoolExecutor

            def _write_half(half_pred):
                half, pred = half_pred
                split = src.filter(pred)
                full_refresh(split, os.path.join(out_dir, half))
                return half, split

            with ThreadPoolExecutor(max_workers=2) as split_pool:
                done = dict(split_pool.map(_write_half, halves))
            for half, _ in halves:  # fixed insertion order for callers
                out[half] = done[half]
        else:
            for half, pred in halves:
                out[half] = src.filter(pred)
    return out


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    parallel: bool = True,
) -> dict[str, DataFrame]:
    """Build every dataset; if ``out_dir`` is given, full-refresh each to
    parquet (K4) — the datalake-load step of the reference notebooks.

    ``parallel``: the five datasets are INDEPENDENT plans over independent
    sinks, so their jobs are submitted from worker threads and the Spark
    scheduler overlaps them — wall time tracks the slowest dataset, not
    the sum (the reference's run.py necessarily serializes: each notebook
    is its own OS process over its own pandas heap, run.py:11-27). Job
    submission is thread-safe; results are deterministic because nothing
    is shared downstream. Serial mode preserves the reference's exact
    execution order for debugging.
    """
    outputs: dict[str, DataFrame] = {}
    if not parallel:
        for name in DATASETS:
            outputs.update(_build_one(spark, sf_dir, out_dir, name))
        return outputs

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(DATASETS)) as pool:
        futures = {
            name: pool.submit(_build_one, spark, sf_dir, out_dir, name)
            for name in DATASETS
        }
        for name in DATASETS:  # preserve the reference's dict order
            outputs.update(futures[name].result())
    return outputs

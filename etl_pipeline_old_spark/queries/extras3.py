"""Registry entries, round-3 third wave: sliding-window streaming,
equi-depth histograms, and schema-evolution-tolerant parquet reads."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..streaming.events import sliding_window_counts
from ..workdir import scratch_path

_3H_US = 3 * 3600 * 1_000_000


@register(
    "stream_sliding_window_counts",
    # width = 2×slide ⇒ every event belongs to exactly two windows, whose
    # starts are floor(us/slide)·slide and that minus slide (epoch-aligned,
    # matching Spark's default startTime=0)
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
    w AS (
      SELECT unnest([(us // {_3H_US}) * {_3H_US} - {_3H_US},
                     (us // {_3H_US}) * {_3H_US}]) AS ws,
             event_type, value
      FROM e)
    SELECT make_timestamp(ws) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2
    """,
    doc="§2.11: sliding (hopping) windows — 6h width, 3h slide, so every "
    "event aggregates into two overlapping windows. Complete mode over "
    "the drained log equals the batch expansion (each event unnested to "
    "both window starts), value-hash-checked. Streaming state scales "
    "with open windows × groups, never with raw events.",
)
def stream_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_window_counts(spark, sf_dir)


@register(
    "histogram_equi_depth",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT bucket,
           count(*) AS n_rows,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM b GROUP BY bucket
    """,
    doc="Equi-depth (quantile) histogram of order totals: ntile(10) over a "
    "deterministic total order (value, key tiebreak), then per-bucket "
    "count/min/max. Complements histogram_order_totals (equi-width, "
    "floor-bin). The exact variant needs a global sort — the honest "
    "baseline; at 100 TB the boundaries come from approx_percentile "
    "(a10_percentile_approx) and binning becomes an embarrassingly "
    "parallel range lookup.",
)
def histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        "o_totalprice",
        F.ntile(10).over(W.orderBy("o_totalprice", "o_orderkey")).alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "s16_mergeschema_evolution",
    # batch 1 = even customers without the later column; batch 2 = odd
    # customers with it — the merged read is the union-by-name the oracle
    # computes straight from the source table
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 2 = 1 THEN round(c_acctbal, 2) END AS acctbal
    FROM customer
    """,
    doc="S16: schema-evolution-tolerant scan — two parquet batches written "
    "at different 'pipeline versions' (the later one adds a column) read "
    "back in one pass with mergeSchema=true; early rows surface NULL for "
    "the added column. The footer-merge happens at planning time over "
    "file metadata only — no data rewrite, the schema-drift story a "
    "long-lived 100 TB table needs. Staged with distributed writes "
    "(no driver-side collect).",
)
def s16_mergeschema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    path = scratch_path("evolve", sf_dir)
    v1 = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "batch=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "batch=v2"))
    return (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(path)
        .select("c_custkey", "c_name", "acctbal")
    )

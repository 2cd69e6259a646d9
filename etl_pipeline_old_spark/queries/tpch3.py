"""TPC-H Q12/Q22 shapes + stream-stream join (§2.11 extension)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_stream, load_table
from ..registry import register
from ..session import no_data_batches_disabled


@register(
    "tpch_q12_shipmode_buckets",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    doc="TPC-H Q12 shape: join + conditional bucket counts "
    "(sum-of-CASE, one pass).",
)
def tpch_q12_shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "inner")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0)
    SELECT substring(c.c_name, 10, 2) AS cntry, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 1
    """,
    doc="TPC-H Q22 shape: scalar subquery (avg) + NOT EXISTS anti-join + "
    "substring bucketing. The scalar aggregate broadcasts; the anti-join "
    "streams the customer side.",
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    rich = c.join(F.broadcast(avg_bal), c["c_acctbal"] > avg_bal["ab"], "inner")
    no_orders = rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
    return (
        no_orders.groupBy(F.substring("c_name", 10, 2).alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


JOIN_WINDOW_US = 3600 * 1_000_000


@register(
    "stream_stream_join",
    oracle=f"""
    SELECT e.event_id, s.event_id AS signup_event_id
    FROM events e
    JOIN events s
      ON e.user_id = s.user_id
     AND s.event_type = 'signup'
     AND e.event_type = 'purchase'
     AND epoch_us(e.ts) - epoch_us(s.ts) BETWEEN 0 AND {JOIN_WINDOW_US}
    """,
    doc="§2.11: stream-stream inner join with event-time range condition "
    "(purchases joined to signups within the preceding hour, per user). "
    "Drained with availableNow, the result equals the batch range join — "
    "hash-checked.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    signups = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_event_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("event_id", "signup_event_id")

    name = f"ss_join_{uuid.uuid4().hex[:8]}"
    # INNER stream-stream join: matches emit in the batch where both sides
    # have arrived; the watermark-advance no-data batch only evicts state
    # (~2.3 s of pure state re-scan here) and cannot add or remove output
    # rows (r15, see session.no_data_batches_disabled — an OUTER join
    # variant must NOT do this)
    with no_data_batches_disabled(spark):
        q = (
            joined.writeStream.outputMode("append")
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

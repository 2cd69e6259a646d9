"""More TPC-H-shaped queries (bench breadth) + remaining set operations."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS correlated filter → left-semi join → "
    "grouped count. Catalyst turns the subquery into a semi-join; the "
    "fact side streams.",
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@register(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#13'
    GROUP BY p.p_brand, p.p_type
    """,
    doc="TPC-H Q16 shape: negated dim filter + grouped COUNT DISTINCT "
    "(two-phase distinct aggregate).",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#13")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "inner")
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, round(o.o_totalprice, 2) AS total,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
    GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
    """,
    doc="TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join probe "
    "into a 3-table join — aggregate-then-join keeps the shuffle narrow.",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "inner")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"), "inner")
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name", "o_orderkey", F.round("o_totalprice", 2).alias("total"), "sum_qty"
        )
    )


@register(
    "u3_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
    doc="INTERSECT (distinct): customers with both urgent and low orders.",
)
def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low)


@register(
    "u4_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
    doc="EXCEPT ALL (multiset difference) — bag semantics preserved.",
)
def u4_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.exceptAll(low)


@register(
    "f23_arrays_overlap",
    oracle="""
    SELECT doc_id,
           list_has_any(string_split(text, ' '), ['spark', 'vector']) AS mentions_engine
    FROM documents
    """,
    doc="arrays_overlap membership (the legacy target_ids ∩ assigned check, "
    "fetch_yougile_programming.py:505-509).",
)
def f23_arrays_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.arrays_overlap(
            F.split("text", " "), F.array(F.lit("spark"), F.lit("vector"))
        ).alias("mentions_engine"),
    )

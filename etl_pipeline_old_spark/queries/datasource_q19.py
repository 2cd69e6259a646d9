"""Registry entries: the custom Python DataSource roundtrip (S7 scale
path) and TPC-H Q19's disjunctive-predicate join shape."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workdir import scratch_path
from ..catalog import load_table
from ..registry import register
from ..sources import python_datasource

PAGE_SIZE = 100


@register(
    "s7_python_datasource_pages",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
    doc="S7 scale path: a custom Spark Python DataSource (DataSource V2) "
    "reading a paginated JSON feed — one InputPartition per page, fetched "
    "in parallel ON the executors (vs the reference's driver-side loop, "
    "fetch_yougile_programming.py:128-158). Roundtrip hash-equals the "
    "source table.",
)
def s7_python_datasource_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    feed = scratch_path("pages", sf_dir)
    # Stage the paginated "API" DISTRIBUTED: executors write ≤PAGE_SIZE-row
    # JSONL page files directly (no driver collect); the READ through the
    # custom DataSource is the operator under test.
    (
        docs.write.mode("overwrite")
        .option("maxRecordsPerFile", PAGE_SIZE)
        .json(feed)
    )

    python_datasource.register(spark)
    return (
        spark.read.format("paged_json")
        .schema("doc_id long, lang string, n_chars long")
        .option("path", feed)
        .load()
    )


@register(
    "tpch_q19_disjunctive_join",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity >= 10)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 10 AND 25 AND l.l_quantity >= 20)
       OR (p.p_brand = 'Brand#5'  AND p.p_size BETWEEN 20 AND 40 AND l.l_quantity >= 30)
    """,
    doc="TPC-H Q19 shape: OR-of-conjunctions across both join sides — "
    "exercises CNF conversion / partial predicate pushdown through the "
    "broadcast join.",
)
def tpch_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "inner")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(10, 25) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(20, 40) & (F.col("l_quantity") >= 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@register(
    "s7b_python_datasource_stream",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
    doc="S7 streaming path: the SAME custom Python DataSource consumed via "
    "readStream — the offset is a lexicographic page-name watermark "
    "({'upto': name}; monotone-cursor contract, skip-not-reemit on "
    "out-of-order arrivals), each micro-batch maps new pages to "
    "executor-parallel InputPartitions, and restart recovery replays from "
    "the committed offset. Drained with "
    "processAllAvailable, the memory-sink state hash-equals the source "
    "table — the streaming-native form of the reference's monotone-cursor "
    "incremental fetch (extractors/fetch_asterisk_cdr.py:39-58).",
)
def s7b_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    feed = scratch_path("stream_pages", sf_dir)
    (
        docs.write.mode("overwrite")
        .option("maxRecordsPerFile", PAGE_SIZE)
        .json(feed)
    )
    python_datasource.register(spark)
    stream = (
        spark.readStream.format("paged_json")
        .schema("doc_id long, lang string, n_chars long")
        .option("path", feed)
        .load()
    )
    name = f"pages_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)

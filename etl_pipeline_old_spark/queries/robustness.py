"""Production-robustness operators: malformed-record tolerance on ingest.

The reference trusts its inputs (a malformed CSV row crashes the notebook);
a 100 TB pipeline cannot. Spark's PERMISSIVE mode quarantines bad records
into ``_corrupt_record`` instead of failing the job — this query ingests a
deliberately 10%-corrupted JSONL feed and reports the good/bad split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workdir import scratch_path
from ..catalog import load_table
from ..registry import register


@register(
    "s3b_corrupt_json_tolerance",
    oracle="""
    SELECT count(CASE WHEN doc_id % 10 <> 3 THEN 1 END)::BIGINT AS good_rows,
           count(CASE WHEN doc_id % 10 = 3 THEN 1 END)::BIGINT AS corrupt_rows,
           sum(CASE WHEN doc_id % 10 <> 3 THEN n_chars ELSE 0 END)::BIGINT AS good_chars
    FROM documents
    """,
    doc="PERMISSIVE-mode ingest: a JSONL feed with every doc_id%10==3 row "
    "truncated mid-record parses without failing; bad rows land in "
    "_corrupt_record and are counted, good rows keep their values.",
)
def s3b_corrupt_json_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    feed = scratch_path("corrupt", sf_dir)
    # Stage the corrupt feed DISTRIBUTED: serialize each row to a JSON line
    # and truncate every doc_id%10==3 line mid-record, all executor-side —
    # no driver materialization, so staging scales with the table.
    line = F.to_json(F.struct("doc_id", "n_chars"))
    staged = docs.select(
        F.when(
            F.col("doc_id") % 10 == 3,
            line.substr(F.lit(1), (F.length(line) / 2).cast("int")),
        )
        .otherwise(line)
        .alias("value")
    )
    staged.write.mode("overwrite").text(feed)

    parsed = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(feed)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.count(F.when(~bad, 1)).alias("good_rows"),
        F.count(F.when(bad, 1)).alias("corrupt_rows"),
        F.sum(F.when(~bad, F.col("n_chars")).otherwise(0)).alias("good_chars"),
    )

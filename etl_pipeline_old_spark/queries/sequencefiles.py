"""Hadoop SequenceFile ingestion — the classic Hadoop-estate handover
(queries over operators/sequencefile.py, the own codec the JVM
reference implementation pins).

Reference parity note: the reference pipeline reads CSV/XLSX exports;
SequenceFile estates are beyond-reference Hadoop-inheritance surface
per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..sources.files import read_blobs
from ..workdir import stage_fixture

_SEQ_CODECS = (
    (None, "none"),
    ("org.apache.hadoop.io.compress.DefaultCodec", "default"),
    ("org.apache.hadoop.io.compress.SnappyCodec", "snappy"),
)


def _stage_sequencefiles(spark: SparkSession, sf_dir: str) -> str:
    """Documents as SequenceFiles written by the JVM REFERENCE
    implementation itself (Spark's saveAsSequenceFile over the live
    session): doc_id%3 routes each doc to the uncompressed,
    block-DefaultCodec or block-Snappy estate — the mixed-era reality
    of an inherited Hadoop cluster."""
    import os

    def build(path: str) -> None:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        for k, (codec, label) in enumerate(_SEQ_CODECS):
            rdd = (
                d.where(F.col("doc_id") % 3 == k)
                .rdd.map(lambda r: (str(r.doc_id), r.text))
            )
            dst = os.path.join(path, label)
            if codec is None:
                rdd.saveAsSequenceFile(dst)
            else:
                rdd.saveAsSequenceFile(dst, compressionCodecClass=codec)

    return stage_fixture("seqfiles", sf_dir, build)


@register(
    "multimodal_sequencefile_ingest",
    oracle="""
    SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT)
             WHEN 0 THEN 'none' WHEN 1 THEN 'default'
             ELSE 'snappy' END AS estate,
           1 AS text_exact
    FROM documents
    """,
    doc="Hadoop SequenceFile estates through the own codec "
    "(operators/sequencefile.py): the staged bytes come from the JVM "
    "REFERENCE implementation itself — Spark's saveAsSequenceFile on "
    "the live session — across the three layouts an inherited cluster "
    "actually mixes (uncompressed, block-DefaultCodec/zlib, "
    "block-SnappyCodec with the Hadoop snappy framing decoded by the "
    "own snappy codec). One Arrow kernel per part file walks the "
    "record/block structure, verifies every sync marker against the "
    "header's, unwraps Text writables, and the oracle demands each "
    "document's text byte-exact plus the codec routing — so every "
    "query run is a JVM-vs-own differential. Scale: part files decode "
    "in parallel; the estate label comes from the directory (the "
    "migration inventory a real handover starts with).",
)
def multimodal_sequencefile_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = _stage_sequencefiles(spark, sf_dir)
    parts = (
        read_blobs(spark, path, glob="part-*", recursive=True)
        .select("path", "content")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("want_text")
    )

    def kernel(batches):
        import pandas as pd

        from ..operators.sequencefile import iter_records

        for pdf in batches:
            out = {"doc_id": [], "estate": [], "got_text": []}
            for p, blob in zip(pdf["path"], pdf["content"]):
                estate = p.rstrip("/").rsplit("/", 2)[-2]
                for k, v in iter_records(bytes(blob)):
                    out["doc_id"].append(int(k.decode("utf-8")))
                    out["estate"].append(estate)
                    out["got_text"].append(v.decode("utf-8"))
            yield pd.DataFrame(out)

    decoded = parts.mapInPandas(
        kernel, "doc_id long, estate string, got_text string"
    )
    return (
        decoded.join(F.broadcast(docs), "doc_id")
        .select(
            "doc_id",
            "estate",
            F.when(F.col("got_text") == F.col("want_text"), 1).alias(
                "text_exact"
            ),
        )
        .orderBy("doc_id")
    )

"""TFRecord training-shard ingestion — the TF/JAX dataloader format,
through the own codec (operators/tfrecord.py: crc32c pinned by the
RFC 3720 spec-printed vectors, tf.train.Example over the same
schema-less protobuf walker the ORC codec pins).

Reference parity note: the reference pipeline reads CSV/XLSX exports;
TFRecord is beyond-reference LLM-corpus surface per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..sources.files import read_blobs
from ..workdir import stage_fixture, write_atomic

_DOCS_PER_SHARD = 25
_BAD_SHARD_MOD = 3  # shard % 3 == 1 stages one data-corrupted record
_BAD_RECORD_IDX = 7


def _stage_tfrecord_shards(spark: SparkSession, sf_dir: str) -> str:
    """.tfrecord shards of tf.Examples (text, doc_id, lang, a 3-float
    embedding stub); in every _BAD_SHARD_MOD-th shard, record
    _BAD_RECORD_IDX's payload gets a byte flipped AFTER framing — its
    data crc then lies while the framing stays intact, the skippable
    damage class."""

    def build(path: str) -> None:
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars")
            .withColumn(
                "shard",
                F.floor(F.col("doc_id") / _DOCS_PER_SHARD).cast("int"),
            )
        )

        def write_shard(pdf):
            import pandas as pd

            from ..operators.tfrecord import encode_example, write_tfrecords

            pdf = pdf.sort_values("doc_id")
            sid = int(pdf["shard"].iloc[0])
            records = [
                encode_example(
                    {
                        "doc_id": [int(r.doc_id)],
                        "text": r.text,
                        "lang": r.lang,
                        "embedding": [
                            float(r.doc_id),
                            float(r.n_chars),
                            0.5,
                        ],
                    }
                )
                for r in pdf.itertuples()
            ]
            blob = bytearray(write_tfrecords(records))
            if sid % _BAD_SHARD_MOD == 1 and len(records) > _BAD_RECORD_IDX:
                # locate record _BAD_RECORD_IDX's payload and flip a byte
                at = sum(12 + len(r) + 4 for r in records[:_BAD_RECORD_IDX])
                payload_at = at + 12
                blob[payload_at + len(records[_BAD_RECORD_IDX]) // 2] ^= 0xFF
            write_atomic(path, f"{sid:05d}.tfrecord", bytes(blob))
            return pd.DataFrame({"shard": [sid], "n": [len(pdf)]})

        d.groupBy("shard").applyInPandas(write_shard, "shard int, n int").collect()

    return stage_fixture("tfrecord", sf_dir, build)


@register(
    "multimodal_tfrecord_ingest",
    oracle=f"""
    SELECT doc_id,
           NOT (doc_id % {_DOCS_PER_SHARD} = {_BAD_RECORD_IDX}
                AND (doc_id // {_DOCS_PER_SHARD}) % {_BAD_SHARD_MOD} = 1)
             AS ok,
           CASE WHEN NOT (doc_id % {_DOCS_PER_SHARD} = {_BAD_RECORD_IDX}
                AND (doc_id // {_DOCS_PER_SHARD}) % {_BAD_SHARD_MOD} = 1)
                THEN 1 ELSE NULL END AS text_exact,
           CASE WHEN NOT (doc_id % {_DOCS_PER_SHARD} = {_BAD_RECORD_IDX}
                AND (doc_id // {_DOCS_PER_SHARD}) % {_BAD_SHARD_MOD} = 1)
                THEN lang ELSE NULL END AS lang,
           CASE WHEN NOT (doc_id % {_DOCS_PER_SHARD} = {_BAD_RECORD_IDX}
                AND (doc_id // {_DOCS_PER_SHARD}) % {_BAD_SHARD_MOD} = 1)
                THEN 3 ELSE NULL END AS n_floats
    FROM documents
    """,
    doc="TFRecord training shards — the TF/JAX dataloader format — "
    "read by the own codec: uint64le+masked-crc32c framing "
    "(crc kernel pinned by RFC 3720 §B.4's spec-printed vectors), "
    "tf.train.Example decoded through the schema-less protobuf wire "
    "walker the ORC codec already pins. One Arrow kernel per shard; "
    "text byte-exact, lang and the packed-float embedding arity "
    "value-checked by the oracle. Damage model exercised in staging: "
    f"every {_BAD_SHARD_MOD}rd shard carries one record whose payload "
    "byte was flipped after framing — its DATA crc lies while framing "
    "stays intact, so exactly that record quarantines (ok=false, id "
    "recovered from the sorted shard geometry) and the rest of the "
    "shard survives; a lying LENGTH crc would cost the shard tail "
    "loudly (no sync markers exist to resync), unit-tested in "
    "tests/test_tfrecord.py.",
)
def multimodal_tfrecord_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_tfrecord_shards(spark, sf_dir)
    shards = read_blobs(spark, path, "tfrecord").select("path", "content")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("want_text")
    )

    def kernel(batches):
        import os as os_

        import pandas as pd

        from ..operators.tfrecord import decode_example, iter_tfrecords

        for pdf in batches:
            out = {"doc_id": [], "ok": [], "got_text": [], "lang": [],
                   "n_floats": []}
            for p, blob in zip(pdf["path"], pdf["content"]):
                first = int(os_.path.basename(p).split(".")[0]) * _DOCS_PER_SHARD
                for idx, payload in enumerate(iter_tfrecords(bytes(blob))):
                    if payload is None:
                        out["doc_id"].append(first + idx)
                        out["ok"].append(False)
                        out["got_text"].append(None)
                        out["lang"].append(None)
                        out["n_floats"].append(None)
                        continue
                    feats = decode_example(payload)
                    out["doc_id"].append(feats["doc_id"][1][0])
                    out["ok"].append(True)
                    out["got_text"].append(
                        feats["text"][1][0].decode("utf-8")
                    )
                    out["lang"].append(feats["lang"][1][0].decode("utf-8"))
                    out["n_floats"].append(len(feats["embedding"][1]))
            yield pd.DataFrame(out)

    decoded = shards.mapInPandas(
        kernel,
        schema="doc_id long, ok boolean, got_text string, lang string, "
        "n_floats int",
    )
    return (
        decoded.join(F.broadcast(docs), "doc_id")
        .select(
            "doc_id",
            "ok",
            F.when(F.col("got_text") == F.col("want_text"), 1).alias(
                "text_exact"
            ),
            "lang",
            "n_floats",
        )
        .orderBy("doc_id")
    )

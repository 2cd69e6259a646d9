"""Streaming similarity serving: ANN probes over a live query-vector feed.

The batch ANN path (queries/similarity.py) answers a fixed query set; a
production retrieval service receives queries continuously. This module
runs the SAME probe unit — bucketize the incoming vectors, join the
static LSH index, exact-cosine rerank — per micro-batch via foreachBatch.
Per-query independence makes the union over any batching equal the batch
answer, which is exactly what the shared oracle checks (the same
associativity contract as stream_er_incremental_link).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workdir import run_dir
from ..catalog import load_table
from ..operators import similarity as SIM
from ..registry import register
from .similarity import K, N_BITS, N_TABLES, QUANT_SCALE, QUERY_IDS, _lsh_topk_oracle


@register(
    "stream_ann_probe",
    oracle=_lsh_topk_oracle(),
    doc="Streaming ANN serving: query vectors arrive as a 2-micro-batch "
    "parquet feed; each batch is LSH-bucketized and probed against the "
    "STATIC persisted index (bucket join -> exact cosine rerank -> "
    f"top-{K}), results appended per batch. Identical constants and probe "
    "unit as ann_lsh_cosine_topk, so the accumulated target hash-equals "
    "the batch LSH top-k — per-query independence makes the union over "
    "any batching exact. At 100 TB the static side is the bucketed-write "
    "LSH layout and each micro-batch touches only its queries' (tbl, "
    "bucket) partitions; the index persists across batches (built once, "
    "not per trigger).",
)
def stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    # stable pid-keyed paths, cleared up-front (the stream_er pattern):
    # repeated invocations in a long-lived session reuse one directory set
    # instead of leaking a fresh uuid-suffixed trio per run
    feed, target, chk = (
        run_dir(f"ann_probe_{part}", sf_dir) for part in ("feed", "target", "chk")
    )
    os.makedirs(feed, exist_ok=True)

    emb = load_table(spark, sf_dir, "embeddings")
    index = SIM.hyperplane_lsh_buckets(
        emb, N_BITS, 64, 42, "vec_id", "embedding", QUANT_SCALE, N_TABLES
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        "tbl",
        "bucket",
    ).persist()
    try:
        index.count()  # materialize once; every micro-batch reuses the blocks

        # stage the query feed as TWO single-file micro-batches
        batches = (QUERY_IDS[: len(QUERY_IDS) // 2], QUERY_IDS[len(QUERY_IDS) // 2 :])
        for tag, ids in zip(("aaa-first", "zzz-second"), batches):
            tmp = run_dir(f"ann_probe_stage_{tag}", sf_dir)
            emb.filter(F.col("vec_id").isin(list(ids))).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
            os.rename(os.path.join(tmp, part), os.path.join(feed, f"{tag}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)

        def probe(batch_df: DataFrame, _batch_id: int) -> None:
            qb = SIM.hyperplane_lsh_buckets(
                batch_df, N_BITS, 64, 42, "vec_id", "embedding", QUANT_SCALE, N_TABLES
            ).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("__qv"),
                "tbl",
                "bucket",
            )
            # the SAME probe unit as the batch lsh_topk path — one
            # definition of the rounding/tie-break contract for the oracle
            SIM.bucketed_probe(index, qb, K).write.mode("append").parquet(target)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = (
            stream.writeStream.foreachBatch(probe)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        index.unpersist()
    return spark.read.parquet(target).select("query_id", "neighbor_id", "cos_sim", "rank")

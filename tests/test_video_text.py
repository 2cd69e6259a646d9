"""Video-text pair capstone tests — queries/formats/formats_video_text.py (r9
verdict #4): plan shape (map-only until the final groupBy, nothing
broadcast, no join anywhere) and gate semantics."""

from __future__ import annotations


def _plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_pairs_plan_is_map_only_until_final_groupby(spark, sf_dir):
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        pipeline_video_text_pairs,
    )

    df = pipeline_video_text_pairs(spark, sf_dir)
    plan = _plan_of(df)
    # one Arrow kernel does the whole sample-level pipeline; no join of
    # any strategy, nothing broadcast, no row-at-a-time Python
    assert plan.count("MapInPandas") == 1
    for forbidden in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
        "BroadcastExchange",
    ):
        assert forbidden not in plan, forbidden


def test_gate_semantics(spark, sf_dir):
    """Audio-only uploads and sparsely-captioned videos never emit; every
    surviving row meets the permille gate; V_AV1 (2500 ms duration, >=
    3000 ms covered) always saturates at 1000 permille."""
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        pipeline_video_text_export,
    )

    rows = pipeline_video_text_export(spark, sf_dir).collect()
    assert rows, "gate must pass a nonempty corpus"
    assert all(r.coverage_permille >= 500 for r in rows)
    assert all(r.meta_ok == 1 for r in rows)
    assert {r.video_codec for r in rows} == {"V_VP9", "V_AV1"}
    assert all(
        r.coverage_permille == 1000
        for r in rows
        if r.video_codec == "V_AV1"
    )
    # audio-only mode (doc_id % 3 == 2) is gated out entirely
    assert all(r.doc_id % 3 != 2 for r in rows)


def test_quarantine_verdicts(spark, sf_dir):
    """Torn videos and mangled captions quarantine per-record; healthy
    samples still gate. The corruption schedule is the staging formula."""
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        video_text_ingest_quarantine,
    )

    rows = video_text_ingest_quarantine(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    assert len(rows) == len(by_id)
    for did, r in by_id.items():
        if did % 10 == 0:
            assert r.status == "corrupt_video" and r.coverage_permille is None
        elif did % 10 == 5:
            assert r.status == "corrupt_caption" and r.gated is None
        else:
            assert r.status == "ok" and r.coverage_permille is not None
            # audio-only uploads parse fine but never pass the video gate
            if did % 3 == 2:
                assert r.gated == 0
    assert {r.status for r in rows} == {
        "ok", "corrupt_video", "corrupt_caption",
    }


def test_stream_equals_batch_capstone(spark, sf_dir):
    """The streaming path must reproduce the batch capstone's stats
    exactly — one clip of drift fails."""
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        pipeline_video_text_pairs,
        stream_video_text_pairs,
    )

    batch = {
        (r.lang, r.video_codec): r.asDict()
        for r in pipeline_video_text_pairs(spark, sf_dir).collect()
    }
    streamed = {
        (r.lang, r.video_codec): r.asDict()
        for r in stream_video_text_pairs(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_incremental_merge_equals_recompute(spark, sf_dir):
    """Base+delta (with one base shard deliberately re-delivered) must
    reproduce the capstone exactly — the at-least-once listing shape."""
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        pipeline_video_text_pairs,
        pipeline_video_text_pairs_incremental,
    )

    full = {
        (r.lang, r.video_codec): r.asDict()
        for r in pipeline_video_text_pairs(spark, sf_dir).collect()
    }
    inc = {
        (r.lang, r.video_codec): r.asDict()
        for r in pipeline_video_text_pairs_incremental(spark, sf_dir).collect()
    }
    assert inc == full


def test_temporal_near_dedup_finds_every_twin(spark, sf_dir):
    """Banding completeness: every staged perturbed twin surfaces as a
    3-of-4-frame pair; no pair below the threshold leaks through."""
    from pyspark.sql import functions as F

    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        _VND_TWIN_MOD,
        video_temporal_near_dedup,
    )

    rows = video_temporal_near_dedup(spark, sf_dir).collect()
    pairs = {(r.clip_a, r.clip_b): r.n_matching_frames for r in rows}
    doc_ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    for d in doc_ids:
        if d % _VND_TWIN_MOD == 0:
            key = tuple(sorted((f"{d}a", f"{d}b")))
            assert pairs.get(key) == 3, f"twin pair missing for doc {d}"
    assert all(n >= 3 for n in pairs.values())

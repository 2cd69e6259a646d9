"""Semantic invariants for the wave-5 scale-governance operators (value
parity vs DuckDB is covered by test_oracle_parity; these assert the
*claims* each operator makes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_old_spark.catalog import load_table
from etl_pipeline_old_spark.queries.extras5 import (
    K_ANON,
    MIX_KEEP_PM,
    KNN_K,
    N_RANGE_PARTS,
    PPJOIN_T,
    PATH_TOPN,
    ann_knn_graph_lsh,
    events_attribution_last_touch,
    events_path_topn,
    dedup_prefix_filter_join,
    events_anomaly_mad,
    events_markov_transitions,
    gdpr_erasure_propagation,
    layout_minmax_prune,
    layout_range_partition_plan,
    privacy_k_anonymity,
    sample_weighted_hash,
    sketch_cms_event_counts,
    stream_scd2_apply,
)


def test_date_layout_prunes_hash_layout_does_not(spark, oracle_sf_dir):
    rows = layout_minmax_prune(spark, oracle_sf_dir).collect()
    skipped = {
        layout: sum(1 for r in rows if r.layout == layout and r.can_skip)
        for layout in ("hash", "date")
    }
    total_date = sum(1 for r in rows if r.layout == "date")
    # arrival-order files all span the full date range: nothing skips;
    # sort-on-write files prune everything outside the one-half-year window
    assert skipped["hash"] == 0
    assert skipped["date"] == total_date - 1


def test_k_anonymity_generalized_and_lossless(spark, oracle_sf_dir):
    out = privacy_k_anonymity(spark, oracle_sf_dir).collect()
    # every surviving named segment meets k; only '*' classes may stay small
    assert all(r.n_people >= K_ANON for r in out if r.segment != "*")
    total = load_table(spark, oracle_sf_dir, "customer").count()
    assert sum(r.n_people for r in out) == total  # suppression-free audit


def test_cms_never_undercounts(spark, oracle_sf_dir):
    out = sketch_cms_event_counts(spark, oracle_sf_dir).collect()
    assert len(out) == 10
    assert all(r.over_ok for r in out)
    assert all(r.cms_est >= r.exact_n for r in out)


def test_weighted_sample_rates(spark, oracle_sf_dir):
    out = {r.lang: r for r in sample_weighted_hash(spark, oracle_sf_dir).collect()}
    assert set(MIX_KEEP_PM) <= set(out)
    for lang, r in out.items():
        assert 0 <= r.n_kept <= r.n_total
    # weight 1.0 keeps everything; the en downsample must actually bite
    assert out["fr"].n_kept == out["fr"].n_total
    en = out["en"]
    assert en.n_kept < en.n_total
    rate = en.n_kept / en.n_total
    assert 0.20 < rate < 0.50  # md5 uniformity at ~230 docs, pm=3500


def test_markov_rows_sum_to_one(spark, oracle_sf_dir):
    rows = events_markov_transitions(spark, oracle_sf_dir).collect()
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r.prev_type] = by_prev.get(r.prev_type, 0.0) + r.p
    assert by_prev and all(abs(s - 1.0) < 1e-4 for s in by_prev.values())


def test_mad_flags_are_robust(spark, oracle_sf_dir):
    out = events_anomaly_mad(spark, oracle_sf_dir).collect()
    assert out
    for r in out:
        assert r.mad >= 0
        assert 0 <= r.n_outliers < r.n  # never flags a majority


def test_erasure_propagates_consistently(spark, oracle_sf_dir):
    rep = {r.table_name: r for r in gdpr_erasure_propagation(spark, oracle_sf_dir).collect()}
    assert set(rep) == {"events", "daily_counts", "user_profile"}
    for r in rep.values():
        assert r.rows_after == r.rows_before - r.rows_deleted
        assert r.rows_deleted > 0  # the 5% manifest is non-empty at sf0.01
    # an erased user disappears from EVERY derived table, so the profile
    # table loses exactly as many rows as there are erased users
    ev, prof = rep["events"], rep["user_profile"]
    assert prof.rows_deleted <= ev.rows_deleted


def test_prefix_filter_join_is_exact(spark, oracle_sf_dir):
    """Prefix filtering must lose NOTHING vs the brute co-shingle join."""
    from etl_pipeline_old_spark.operators.dedup import jaccard_pairs, shingle_sets

    pp = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup_prefix_filter_join(spark, oracle_sf_dir).collect()
    }
    sh = shingle_sets(load_table(spark, oracle_sf_dir, "documents"), "text", "doc_id", 3)
    brute = {
        (r.id_a, r.id_b): round(r.jaccard, 4)
        for r in jaccard_pairs(sh).collect()
        if r.jaccard >= PPJOIN_T
    }
    assert pp.keys() == brute.keys()
    assert pp  # planted near-dupes exist at sf0.01


def test_attribution_conserves_purchases(spark, oracle_sf_dir):
    out = events_attribution_last_touch(spark, oracle_sf_dir).collect()
    assert {r.touch_type for r in out} <= {"click", "view", "none"}
    total = (
        load_table(spark, oracle_sf_dir, "events")
        .filter("event_type = 'purchase'")
        .count()
    )
    assert sum(r.n_purchases for r in out) == total  # every purchase lands once


def test_path_topn_is_ranked_and_bounded(spark, oracle_sf_dir):
    rows = sorted(events_path_topn(spark, oracle_sf_dir).collect(), key=lambda r: r.rank)
    assert len(rows) == PATH_TOPN
    assert all(a.n >= b.n for a, b in zip(rows, rows[1:]))
    assert all(len(r.path.split(">")) == 3 for r in rows)


def test_knn_graph_shape_and_quality(spark, oracle_sf_dir):
    rows = ann_knn_graph_lsh(spark, oracle_sf_dir).collect()
    n_vectors = load_table(spark, oracle_sf_dir, "embeddings").count()
    per_src: dict[int, int] = {}
    for r in rows:
        per_src[r.src] = per_src.get(r.src, 0) + 1
        assert r.src != r.dst
        assert 1 <= r.rank <= KNN_K
    # OR-amplified buckets give every vector a full candidate set here
    assert len(per_src) == n_vectors
    assert all(v == KNN_K for v in per_src.values())
    # within each source, similarity is non-increasing in rank, and the
    # sign-bucket collision premise holds: collided top-1 neighbors are
    # positively similar (these embeddings have no planted clusters, so a
    # strong absolute threshold would be asserting a property of the
    # random testdata, not of the operator)
    by_src: dict[int, list] = {}
    for r in rows:
        by_src.setdefault(r.src, []).append(r)
    for edges in by_src.values():
        edges.sort(key=lambda r: r.rank)
        sims = [r.cos_sim for r in edges]
        assert sims == sorted(sims, reverse=True)
    assert all(r.cos_sim > 0 for r in rows if r.rank == 1)


def test_range_partition_plan_is_balanced(spark, oracle_sf_dir):
    rows = layout_range_partition_plan(spark, oracle_sf_dir).collect()
    assert len(rows) == N_RANGE_PARTS
    counts = [r.n_rows for r in rows]
    assert max(counts) - min(counts) <= 1  # skew-free by construction
    by_pid = sorted(rows, key=lambda r: r.pid)
    for lo_r, hi_r in zip(by_pid, by_pid[1:]):
        assert lo_r.hi <= hi_r.lo  # boundaries are monotone


def test_stream_scd2_closes_and_keeps_one_current(spark, sf_dir):
    rows = stream_scd2_apply(spark, sf_dir).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.o_orderkey, []).append(r)
    assert by_key
    saw_two_versions = False
    for key, versions in by_key.items():
        current = [r for r in versions if r.is_current]
        assert len(current) == 1  # exactly one open row per key
        assert current[0].valid_to is None
        if key % 11 == 0:
            saw_two_versions = True
            assert len(versions) == 2
            old = next(r for r in versions if not r.is_current)
            new = current[0]
            assert new.status == "X"
            assert old.valid_to == new.valid_from  # chain is gap-free
        else:
            assert len(versions) == 1
    assert saw_two_versions


def test_prune_manifest_single_shuffle(spark, oracle_sf_dir):
    plan = layout_minmax_prune(spark, oracle_sf_dir)._jdf.queryExecution().executedPlan().toString()
    # one union of two projections of the same scan, one aggregate exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_audio_segments_islands(spark, sf_dir):
    """Segments are maximal runs of threshold-clearing frames: within a
    doc they are disjoint, ordered, and separated by at least one
    inactive frame; bounds and counts agree."""
    from etl_pipeline_old_spark.queries.formats.formats_media import (
        multimodal_audio_features,
    )
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        _VAD_ENERGY_TH,
        multimodal_audio_segments,
    )

    feat = {
        (r.doc_id, r.frame_id): r.energy
        for r in multimodal_audio_features(spark, sf_dir).collect()
    }
    segs: dict[int, list] = {}
    for r in multimodal_audio_segments(spark, sf_dir).collect():
        segs.setdefault(r.doc_id, []).append(r)
    assert segs
    for doc_id, rows in segs.items():
        rows.sort(key=lambda r: r.seg_id)
        prev_end = -2
        for i, r in enumerate(rows):
            assert r.seg_id == i
            assert r.n_frames == r.end_frame - r.start_frame + 1
            assert r.start_frame > prev_end + 1  # gap between segments
            prev_end = r.end_frame
            for f in range(r.start_frame, r.end_frame + 1):
                assert feat[(doc_id, f)] >= _VAD_ENERGY_TH
            # maximality: the frames flanking the segment are inactive
            for f in (r.start_frame - 1, r.end_frame + 1):
                if (doc_id, f) in feat:
                    ok = feat[(doc_id, f)] < _VAD_ENERGY_TH
                    # flanking frame may start the NEXT segment only if
                    # it is beyond this one (prevented by the gap check)
                    assert ok

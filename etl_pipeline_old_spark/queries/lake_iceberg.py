"""Apache Iceberg table reading — snapshots, manifest lists, manifests
and partition pruning, composed from pieces this repo already pins:
the metadata JSON is stdlib json, the manifest files are Avro (the own
cross-validated codec in operators/avro.py), and the data files are
real parquet Spark scans.  Written from the public Iceberg table spec
(iceberg.apache.org/spec: version-hint / vN.metadata.json →
snapshot.manifest-list → manifest_file entries → data_file structs
with identity-partition tuples and status EXISTING/ADDED/DELETED).

Why this matters at 100 TB: Iceberg's whole design is that the
planner never LISTS the object store — the manifest tree IS the file
index, and partition summaries prune whole manifests before a single
data footer is touched.  These queries stage a three-snapshot table
(append, append, partition delete) over lang-partitioned parquet and
drive it the Iceberg way: time travel by snapshot replay, file-level
partition pruning from manifest entry partition tuples, and
one-torn-manifest-costs-one-snapshot quarantine.

Honesty note (CONFORMANCE class): no independent Iceberg
implementation exists in-container (no pyiceberg, no iceberg-spark
jars), so the staged metadata is OWN-written to the spec's shapes — a
spec-structure+roundtrip pin, stated as such.  The two load-bearing
layers underneath are still independently pinned: the Avro container
both directions against snappy-java/org.apache.avro, and the parquet
data files against Spark's own scan, which these oracles hash against
the documents table.

Scale posture: data files are written AND read on the executors; the
manifest tree is parsed relationally (one mapInPandas kernel over
manifest paths → an entries relation); the only collects are manifest
path lists and kept data-file lists — metadata, the wikidump-index
class.  Timestamps in the staged metadata are deterministic constants
(snapshot ordinals), not wall-clock, so staging is idempotent.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..session import scan_partitions
from ..workdir import stage_fixture, write_atomic

_SNAP_BASE = 3_000_000_000_001  # deterministic snapshot ids (spec: int64)
_TS_BASE = 1_700_000_000_000  # deterministic commit timestamps (ms)

_MANIFEST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [{"name": "lang", "type": "string"}],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
)

_MANIFEST_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": "long"},
            {
                "name": "partitions",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "field_summary",
                        "fields": [
                            {"name": "contains_null", "type": "boolean"},
                            {"name": "lower_bound", "type": ["null", "bytes"]},
                            {"name": "upper_bound", "type": ["null", "bytes"]},
                        ],
                    },
                },
            },
        ],
    }
)

# status codes per the spec's manifest_entry
_ST_EXISTING = 0
_ST_ADDED = 1
_ST_DELETED = 2


def _stage_iceberg_table(spark: SparkSession, sf_dir: str) -> str:
    """Three-snapshot Iceberg-shaped table over lang-partitioned parquet:
    s1 appends era0 (doc_id%2=0), s2 appends era1, s3 deletes lang='zh'."""

    def build(root: str) -> None:
        from ..operators.avro import write_avro

        meta_dir = os.path.join(root, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars")
            .withColumn("era", (F.col("doc_id") % 2).cast("int"))
        )

        def write_data_file(pdf):
            import os as os_

            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.sort_values("doc_id")
            era = int(pdf["era"].iloc[0])
            lang = str(pdf["lang"].iloc[0])
            part_dir = os_.path.join(root, "data", f"era{era}", f"lang={lang}")
            os_.makedirs(part_dir, exist_ok=True)
            final = os_.path.join(part_dir, "part-00000.parquet")
            buf = pa.BufferOutputStream()
            pq.write_table(
                pa.Table.from_pandas(pdf.drop(columns=["era"]), preserve_index=False),
                buf,
                compression="snappy",
            )
            write_atomic(part_dir, "part-00000.parquet", buf.getvalue().to_pybytes())
            return pd.DataFrame(
                {
                    "era": [era],
                    "lang": [lang],
                    "path": [final],
                    "n": [len(pdf)],
                    "size": [os_.path.getsize(final)],
                }
            )

        # the ONLY collect of the staging: per-file METADATA rows (the
        # commit information an Iceberg writer carries to its manifest)
        files = (
            d.groupBy("era", "lang")
            .applyInPandas(write_data_file, "era int, lang string, path string, n long, size long")
            .collect()
        )

        def entry(row, status: int, snap: int) -> dict:
            return {
                "status": status,
                "snapshot_id": snap,
                "data_file": {
                    "file_path": row.path,
                    "file_format": "PARQUET",
                    "partition": {"lang": row.lang},
                    "record_count": row.n,
                    "file_size_in_bytes": row.size,
                },
            }

        def write_manifest(name: str, entries: list[dict]) -> tuple[str, int]:
            blob = write_avro(entries, _MANIFEST_SCHEMA, codec="deflate")
            path = os.path.join(meta_dir, name)
            with open(path, "wb") as fh:
                fh.write(blob)
            return path, len(blob)

        def summary(entries: list[dict]) -> list[dict]:
            langs = sorted(e["data_file"]["partition"]["lang"] for e in entries)
            return [
                {
                    "contains_null": False,
                    "lower_bound": langs[0].encode(),
                    "upper_bound": langs[-1].encode(),
                }
            ]

        era0 = sorted((r for r in files if r.era == 0), key=lambda r: r.lang)
        era1 = sorted((r for r in files if r.era == 1), key=lambda r: r.lang)
        s1, s2, s3 = _SNAP_BASE, _SNAP_BASE + 1, _SNAP_BASE + 2

        m0_entries = [entry(r, _ST_ADDED, s1) for r in era0]
        m0_path, m0_len = write_manifest("m-era0.avro", m0_entries)
        m1_entries = [entry(r, _ST_ADDED, s2) for r in era1]
        m1_path, m1_len = write_manifest("m-era1.avro", m1_entries)
        # s3: one rewritten manifest — zh entries flagged DELETED, rest EXISTING
        m3_entries = [
            entry(r, _ST_DELETED if r.lang == "zh" else _ST_EXISTING, s3)
            for r in era0 + era1
        ]
        m3_path, m3_len = write_manifest("m-postdelete.avro", m3_entries)

        def write_list(name: str, manifests: list[tuple[str, int, list, int]]) -> str:
            recs = [
                {
                    "manifest_path": p,
                    "manifest_length": ln,
                    "partition_spec_id": 0,
                    "added_snapshot_id": snap,
                    "partitions": summ,
                }
                for p, ln, summ, snap in manifests
            ]
            blob = write_avro(recs, _MANIFEST_LIST_SCHEMA, codec="deflate")
            path = os.path.join(meta_dir, name)
            with open(path, "wb") as fh:
                fh.write(blob)
            return path

        l1 = write_list("snap-1.avro", [(m0_path, m0_len, summary(m0_entries), s1)])
        l2 = write_list(
            "snap-2.avro",
            [
                (m0_path, m0_len, summary(m0_entries), s1),
                (m1_path, m1_len, summary(m1_entries), s2),
            ],
        )
        l3 = write_list("snap-3.avro", [(m3_path, m3_len, summary(m3_entries), s3)])

        meta = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000014",
            "location": root,
            "current-snapshot-id": s3,
            "snapshots": [
                {
                    "snapshot-id": s1,
                    "timestamp-ms": _TS_BASE + 1,
                    "manifest-list": l1,
                    "summary": {"operation": "append"},
                },
                {
                    "snapshot-id": s2,
                    "timestamp-ms": _TS_BASE + 2,
                    "manifest-list": l2,
                    "summary": {"operation": "append"},
                },
                {
                    "snapshot-id": s3,
                    "timestamp-ms": _TS_BASE + 3,
                    "manifest-list": l3,
                    "summary": {"operation": "delete"},
                },
            ],
        }
        with open(os.path.join(meta_dir, "v3.metadata.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
            fh.write("3")

    return stage_fixture("iceberg", sf_dir, build)


def _load_metadata(root: str) -> dict:
    with open(os.path.join(root, "metadata", "version-hint.text")) as fh:
        v = fh.read().strip()
    with open(os.path.join(root, "metadata", f"v{v}.metadata.json")) as fh:
        return json.load(fh)


def _entries_frame(spark: SparkSession, manifest_rows: list[tuple]) -> DataFrame:
    """(snapshot_ord, manifest_path) → manifest_entry relation, parsed on
    the executors through the own Avro codec."""
    rel = spark.createDataFrame(
        manifest_rows, "snapshot_ord int, manifest_path string"
    ).repartition(scan_partitions(spark, len(manifest_rows)))

    def kernel(batches):
        import pandas as pd

        from ..operators.avro import read_avro

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                with open(r.manifest_path, "rb") as fh:
                    _schema, _codec, recs = read_avro(fh.read())
                for e in recs:
                    df_ = e["data_file"]
                    out.append(
                        (
                            r.snapshot_ord,
                            e["status"],
                            df_["file_path"],
                            df_["partition"]["lang"],
                            df_["record_count"],
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=["snapshot_ord", "status", "file_path", "lang", "record_count"],
            )

    return rel.mapInPandas(
        kernel,
        "snapshot_ord int, status int, file_path string, lang string, "
        "record_count long",
    )


def _snapshot_manifests(meta: dict) -> list[tuple[int, str]]:
    from ..operators.avro import read_avro

    rows = []
    for ord_, snap in enumerate(
        sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"]), start=1
    ):
        with open(snap["manifest-list"], "rb") as fh:
            _s, _c, manifests = read_avro(fh.read())
        for m in manifests:
            rows.append((ord_, m["manifest_path"]))
    return rows


@register(
    "lake_iceberg_time_travel",
    oracle="""
    SELECT 1 AS snapshot_ord,
      (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_files,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_docs_manifest,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_docs_scanned
    UNION ALL SELECT 2,
      (SELECT CAST(COUNT(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
         AS BIGINT) FROM documents),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
    UNION ALL SELECT 3,
      (SELECT CAST(COUNT(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
         AS BIGINT) FROM documents WHERE lang <> 'zh'),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE lang <> 'zh'),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE lang <> 'zh')
    """,
    doc="Iceberg time travel executed on a three-snapshot staged table "
    "(append era0, append era1, delete lang='zh'): each snapshot's "
    "manifest list resolves through the own Avro codec to a manifest_"
    "entry relation, DELETED entries drop out relationally, and the "
    "answer is double-checked — n_docs_manifest comes from the "
    "manifests' record_count claims alone (the metadata-only path), "
    "n_docs_scanned from actually scanning that snapshot's parquet "
    "files with Spark. The oracle recomputes all three snapshots from "
    "the documents table, so a mis-parsed status flag, a wrong "
    "manifest-list edge, or a file wired to the wrong snapshot flips "
    "the hash. The spec's core promise — old snapshots unaffected by "
    "later deletes — is what rows 1 and 2 assert after row 3's delete "
    "landed.",
)
def lake_iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _stage_iceberg_table(spark, sf_dir)
    meta = _load_metadata(root)
    entries = _entries_frame(spark, _snapshot_manifests(meta)).where(
        F.col("status") != _ST_DELETED
    )
    manifest_side = entries.groupBy("snapshot_ord").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("record_count").cast("long").alias("n_docs_manifest"),
    )
    # scanned side: collect the per-snapshot file lists (metadata), scan
    file_rows = entries.select("snapshot_ord", "file_path").collect()
    by_snap: dict[int, list[str]] = {}
    for r in file_rows:
        by_snap.setdefault(r.snapshot_ord, []).append(r.file_path)
    scanned = None
    for ord_, paths in sorted(by_snap.items()):
        agg = (
            spark.read.parquet(*sorted(set(paths)))
            .agg(F.count("*").cast("long").alias("n_docs_scanned"))
            .select(F.lit(ord_).cast("int").alias("snapshot_ord"), "n_docs_scanned")
        )
        scanned = agg if scanned is None else scanned.unionByName(agg)
    return manifest_side.join(scanned, "snapshot_ord")


@register(
    "lake_iceberg_partition_prune",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(DISTINCT doc_id % 2) AS BIGINT) FROM documents
         WHERE lang = 'en') AS n_files_scanned,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'en'
    """,
    doc="Iceberg partition pruning at the current snapshot: the "
    "predicate lang='en' is applied to the manifest entries' identity-"
    "partition tuples — file selection happens entirely in the "
    "manifest relation, before any parquet footer is touched (the "
    "spec's no-listing design; manifest-list partition summaries would "
    "prune whole manifests the same way at fleet scale). Spark then "
    "scans ONLY the en-partition files — tests/test_lake_iceberg.py "
    "locks inputFiles() to the lang=en directories — and the oracle "
    "recomputes docs and character sums from the table.",
)
def lake_iceberg_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _stage_iceberg_table(spark, sf_dir)
    meta = _load_metadata(root)
    rows = [
        (1, m)
        for o, m in _snapshot_manifests(meta)
        if o == len(meta["snapshots"])
    ]
    entries = _entries_frame(spark, rows).where(
        (F.col("status") != _ST_DELETED) & (F.col("lang") == "en")
    )
    kept = sorted(r.file_path for r in entries.select("file_path").collect())
    docs = spark.read.parquet(*kept)
    return docs.agg(
        F.lit(len(kept)).cast("long").alias("n_files_scanned"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _stage_torn_iceberg(spark: SparkSession, sf_dir: str) -> str:
    """Copy of the table's metadata tree with s2's era1 manifest torn
    mid-block (sync-marker damage) — s1 and s3 must stay readable."""
    src = _stage_iceberg_table(spark, sf_dir)
    def build(root: str) -> None:
        import shutil

        from ..operators.avro import read_avro, write_avro

        meta_src = os.path.join(src, "metadata")
        meta_dst = os.path.join(root, "metadata")
        shutil.rmtree(meta_dst, ignore_errors=True)
        shutil.copytree(meta_src, meta_dst)
        # repoint the copied metadata at the copy — manifest lists are
        # deflate-compressed Avro, so they are REWRITTEN through the codec
        # (a byte-level path patch cannot reach inside compressed blocks);
        # data_file paths stay shared and untouched
        for name in os.listdir(meta_dst):
            p = os.path.join(meta_dst, name)
            if name.startswith("snap-") and name.endswith(".avro"):
                with open(p, "rb") as fh:
                    schema, codec, recs = read_avro(fh.read())
                for m in recs:
                    m["manifest_path"] = m["manifest_path"].replace(
                        meta_src, meta_dst
                    )
                with open(p, "wb") as fh:
                    fh.write(write_avro(recs, schema, codec=codec))
            elif name.endswith(".metadata.json"):
                with open(p) as fh:
                    txt = fh.read()
                with open(p, "w") as fh:
                    fh.write(txt.replace(meta_src, meta_dst))
        torn = os.path.join(meta_dst, "m-era1.avro")
        with open(torn, "rb") as fh:
            blob = bytearray(fh.read())
        mid = len(blob) // 2
        blob[mid : mid + 16] = b"\xff" * 16
        with open(torn, "wb") as fh:
            fh.write(bytes(blob))

    return stage_fixture("iceberg_torn", sf_dir, build)


@register(
    "lake_iceberg_quarantine",
    oracle="""
    SELECT 1 AS snapshot_ord, 'ok' AS status,
      (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_files
    UNION ALL SELECT 2, 'torn_manifest', NULL
    UNION ALL SELECT 3, 'ok',
      (SELECT CAST(COUNT(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
         AS BIGINT) FROM documents WHERE lang <> 'zh')
    """,
    doc="Torn-manifest quarantine: s2's era1 manifest is scribbled "
    "mid-block (sync-marker damage — the Avro codec's loud ValueError "
    "class), and the snapshot walk keeps the loss to THAT snapshot: s1 "
    "never references the torn file and s3's post-delete rewrite "
    "replaced it, so both still resolve their full file sets. The "
    "blast-radius rule that matters operationally: one corrupt "
    "manifest must not take down the table's history, only the commits "
    "whose list points at it.",
)
def lake_iceberg_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _stage_torn_iceberg(spark, sf_dir)
    meta = _load_metadata(root)
    rows = _snapshot_manifests(meta)
    rel = spark.createDataFrame(
        rows, "snapshot_ord int, manifest_path string"
    ).repartition(scan_partitions(spark, len(rows)))

    def kernel(batches):
        import pandas as pd

        from ..operators.avro import read_avro

        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                try:
                    with open(r.manifest_path, "rb") as fh:
                        _s, _c, recs = read_avro(fh.read())
                    live = sum(1 for e in recs if e["status"] != _ST_DELETED)
                    out.append((r.snapshot_ord, "ok", live))
                except ValueError:
                    out.append((r.snapshot_ord, "torn_manifest", None))
            yield pd.DataFrame(out, columns=["snapshot_ord", "status", "n_files"])

    per_manifest = rel.mapInPandas(
        kernel, "snapshot_ord int, status string, n_files long"
    )
    # a snapshot is torn iff ANY of its manifests is torn
    return per_manifest.groupBy("snapshot_ord").agg(
        F.when(
            F.sum((F.col("status") == "torn_manifest").cast("int")) > 0,
            F.lit("torn_manifest"),
        )
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.when(
            F.sum((F.col("status") == "torn_manifest").cast("int")) > 0,
            F.lit(None).cast("long"),
        )
        .otherwise(F.sum("n_files").cast("long"))
        .alias("n_files"),
    )


_DELETE_MOD = 7  # doc_id % 7 == 3 -> positionally deleted in the v2 table

_DELETE_MANIFEST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "delete_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                        },
                    ],
                },
            },
        ],
    }
)


def _stage_iceberg_v2_table(spark: SparkSession, sf_dir: str) -> str:
    """An Iceberg FORMAT V2 merge-on-read table: one append snapshot of
    lang-partitioned data files, then a delete snapshot whose
    POSITIONAL DELETE files (spec §Position Delete Files: parquet of
    file_path + pos, ordered) tombstone every doc_id % _DELETE_MOD == 3
    row — no data file rewritten.  Delete manifests carry content=1 so
    readers route them to the anti-join side."""

    def build(root: str) -> None:
        from ..operators.avro import write_avro

        meta_dir = os.path.join(root, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars")
        )

        def write_data_file(pdf):
            import os as os_

            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.sort_values("doc_id")
            lang = str(pdf["lang"].iloc[0])
            part_dir = os_.path.join(root, "data", f"lang={lang}")
            os_.makedirs(part_dir, exist_ok=True)
            final = os_.path.join(part_dir, "part-00000.parquet")
            buf = pa.BufferOutputStream()
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                buf,
                compression="snappy",
            )
            write_atomic(part_dir, "part-00000.parquet", buf.getvalue().to_pybytes())
            # positional deletes computed HERE, where file order is known:
            # row position = rank within the doc_id-sorted file
            positions = [
                i
                for i, did in enumerate(pdf["doc_id"])
                if int(did) % _DELETE_MOD == 3
            ]
            return pd.DataFrame(
                {
                    "lang": [lang],
                    "path": [final],
                    "n": [len(pdf)],
                    "size": [os_.path.getsize(final)],
                    "del_positions": [positions],
                }
            )

        files = (
            d.groupBy("lang")
            .applyInPandas(
                write_data_file,
                "lang string, path string, n long, size long, "
                "del_positions array<int>",
            )
            .collect()
        )

        # the delete file: ONE parquet of (file_path, pos), ordered per spec
        import pyarrow as pa
        import pyarrow.parquet as pq

        del_rows = sorted(
            (r.path, int(p))
            for r in files
            for p in r.del_positions
        )
        del_path = os.path.join(root, "data", "deletes-00000.parquet")
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([p for p, _ in del_rows]),
                    "pos": pa.array([p for _, p in del_rows], pa.int64()),
                }
            ),
            del_path,
            compression="snappy",
        )

        s1, s2, s3 = _SNAP_BASE + 10, _SNAP_BASE + 11, _SNAP_BASE + 12
        data_entries = [
            {
                "status": _ST_ADDED,
                "snapshot_id": s1,
                "data_file": {
                    "file_path": r.path,
                    "file_format": "PARQUET",
                    "partition": {"lang": r.lang},
                    "record_count": r.n,
                    "file_size_in_bytes": r.size,
                },
            }
            for r in sorted(files, key=lambda r: r.lang)
        ]
        m_data = write_avro(data_entries, _MANIFEST_SCHEMA, codec="deflate")
        m_data_path = os.path.join(meta_dir, "m-data.avro")
        open(m_data_path, "wb").write(m_data)
        del_entries = [
            {
                "status": _ST_ADDED,
                "snapshot_id": s2,
                "data_file": {
                    "content": 1,  # POSITION_DELETES per the v2 spec
                    "file_path": del_path,
                    "file_format": "PARQUET",
                    "record_count": len(del_rows),
                    "file_size_in_bytes": os.path.getsize(del_path),
                    "equality_ids": None,
                },
            }
        ]
        m_del = write_avro(del_entries, _DELETE_MANIFEST_SCHEMA, codec="deflate")
        m_del_path = os.path.join(meta_dir, "m-deletes.avro")
        open(m_del_path, "wb").write(m_del)

        def mlist(name: str, manifests: list[tuple[str, bytes, int, int]]) -> str:
            recs = [
                {
                    "manifest_path": p,
                    "manifest_length": ln,
                    "partition_spec_id": 0,
                    "added_snapshot_id": snap,
                    "partitions": [],
                    "content": content,
                }
                for p, ln, snap, content in manifests
            ]
            schema = json.loads(_MANIFEST_LIST_SCHEMA)
            schema["fields"].append({"name": "content", "type": "int"})
            blob = write_avro(recs, json.dumps(schema), codec="deflate")
            path = os.path.join(meta_dir, name)
            open(path, "wb").write(blob)
            return path

        # s3: an EQUALITY delete file (content=2, equality_ids=[lang's
        # field id 3]) removing every lang='zh' row still visible
        eq_path = os.path.join(root, "data", "eq-deletes-00000.parquet")
        pq.write_table(
            pa.table({"lang": pa.array(["zh"])}), eq_path, compression="snappy"
        )
        eq_entries = [
            {
                "status": _ST_ADDED,
                "snapshot_id": s3,
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES per the v2 spec
                    "file_path": eq_path,
                    "file_format": "PARQUET",
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(eq_path),
                    "equality_ids": [3],
                },
            }
        ]
        m_eq = write_avro(eq_entries, _DELETE_MANIFEST_SCHEMA, codec="deflate")
        m_eq_path = os.path.join(meta_dir, "m-eq-deletes.avro")
        open(m_eq_path, "wb").write(m_eq)

        l1 = mlist("snap-v2-1.avro", [(m_data_path, len(m_data), s1, 0)])
        l2 = mlist(
            "snap-v2-2.avro",
            [(m_data_path, len(m_data), s1, 0), (m_del_path, len(m_del), s2, 1)],
        )
        l3 = mlist(
            "snap-v2-3.avro",
            [
                (m_data_path, len(m_data), s1, 0),
                (m_del_path, len(m_del), s2, 1),
                (m_eq_path, len(m_eq), s3, 1),
            ],
        )
        meta = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-0000000000v2",
            "location": root,
            "current-snapshot-id": s2,
            "snapshots": [
                {
                    "snapshot-id": s1,
                    "timestamp-ms": _TS_BASE + 11,
                    "manifest-list": l1,
                    "summary": {"operation": "append"},
                },
                {
                    "snapshot-id": s2,
                    "timestamp-ms": _TS_BASE + 12,
                    "manifest-list": l2,
                    "summary": {"operation": "delete"},
                },
                {
                    "snapshot-id": s3,
                    "timestamp-ms": _TS_BASE + 13,
                    "manifest-list": l3,
                    "summary": {"operation": "delete"},
                },
            ],
        }
        with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
            fh.write("2")

    return stage_fixture("iceberg_v2", sf_dir, build)


@register(
    "lake_iceberg_positional_deletes",
    oracle=f"""
    SELECT lang,
      CAST(COUNT(*) FILTER (WHERE doc_id % {_DELETE_MOD} != 3) AS BIGINT)
        AS n_visible,
      CAST(COUNT(*) FILTER (WHERE doc_id % {_DELETE_MOD} = 3) AS BIGINT)
        AS n_deleted,
      CAST(SUM(n_chars) FILTER (WHERE doc_id % {_DELETE_MOD} != 3)
        AS BIGINT) AS sum_chars_visible
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Iceberg FORMAT V2 merge-on-read: the current snapshot carries "
    "a data manifest (content=0) AND a positional-delete manifest "
    "(content=1) whose delete file is plain parquet of (file_path, "
    "pos) rows — the spec's Position Delete Files. The reader routes "
    "manifests by content flag, scans data files with Spark's "
    "_metadata.row_index hidden column for true row positions, and "
    "anti-joins tombstones relationally — zero data files rewritten, "
    "the v2 contract. The oracle recomputes visibility from the "
    "deletion formula, so a position off by one (the classic "
    "sort-order bug) or a delete row applied to the wrong file flips "
    "per-language counts AND the character sum. Scale: delete files "
    "are metadata-sized; the anti-join shuffles tombstones, never "
    "data.",
)
def lake_iceberg_positional_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.avro import read_avro

    root = _stage_iceberg_v2_table(spark, sf_dir)
    with open(os.path.join(root, "metadata", "version-hint.text")) as fh:
        v = fh.read().strip()
    with open(os.path.join(root, "metadata", f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    # TIME TRAVEL to the positional-delete snapshot (ordinal 2): the
    # equality-delete commit after it must not leak in
    snaps = sorted(meta["snapshots"], key=lambda s: s["timestamp-ms"])
    with open(snaps[1]["manifest-list"], "rb") as fh:
        _s, _c, manifests = read_avro(fh.read())
    data_paths, delete_paths = [], []
    for m in manifests:
        with open(m["manifest_path"], "rb") as fh:
            _s2, _c2, entries = read_avro(fh.read())
        for e in entries:
            if e["status"] == _ST_DELETED:
                continue
            df_ = e["data_file"]
            if df_.get("content", 0) == 1:
                delete_paths.append(df_["file_path"])
            elif df_.get("content", 0) == 2:
                raise ValueError("iceberg: equality delete at the wrong snapshot")
            else:
                data_paths.append(df_["file_path"])
    data = spark.read.parquet(*sorted(data_paths)).select(
        "doc_id",
        "lang",
        "n_chars",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("pos"),
    )
    deletes = spark.read.parquet(*sorted(set(delete_paths))).select(
        F.col("file_path").alias("del_file"), F.col("pos").alias("del_pos")
    )
    # normalize file path schemes (file:/ prefix vs raw path)
    norm = F.regexp_replace(F.col("file_path"), "^file:/*", "/")
    tagged = data.withColumn("file_norm", norm)
    dnorm = deletes.withColumn(
        "del_norm", F.regexp_replace(F.col("del_file"), "^file:/*", "/")
    )
    visible = tagged.join(
        F.broadcast(dnorm),
        (F.col("file_norm") == F.col("del_norm"))
        & (F.col("pos") == F.col("del_pos")),
        "left_anti",
    )
    deleted_count = tagged.join(
        F.broadcast(dnorm),
        (F.col("file_norm") == F.col("del_norm"))
        & (F.col("pos") == F.col("del_pos")),
        "left_semi",
    )
    vis = visible.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_visible"),
        F.sum("n_chars").cast("long").alias("sum_chars_visible"),
    )
    dele = deleted_count.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_deleted")
    )
    return (
        vis.join(dele, "lang", "left")
        .select(
            "lang",
            "n_visible",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias("n_deleted"),
            "sum_chars_visible",
        )
        .orderBy("lang")
    )


@register(
    "lake_iceberg_equality_deletes",
    oracle=f"""
    SELECT lang,
      CAST(COUNT(*) FILTER (WHERE doc_id % {_DELETE_MOD} != 3) AS BIGINT)
        AS n_visible,
      CAST(SUM(n_chars) FILTER (WHERE doc_id % {_DELETE_MOD} != 3)
        AS BIGINT) AS sum_chars_visible
    FROM documents WHERE lang <> 'zh' GROUP BY lang ORDER BY lang
    """,
    doc="Iceberg v2 EQUALITY deletes stacked on positional deletes: "
    "the third snapshot's delete manifest carries a content=2 file "
    "with equality_ids naming the lang field — 'delete every row "
    "whose key columns match any delete row', the DELETE-WHERE shape "
    "engines write when positions are unknown. Resolution composes "
    "RELATIONALLY: positional tombstones anti-join on (file, pos), "
    "equality tombstones anti-join on the key columns, both broadcast "
    "(delete files are metadata-sized). zh rows survive the "
    "positional pass and vanish in the equality pass; the oracle "
    "recomputes the composed visibility per language, so routing an "
    "equality file down the positional path (or vice versa) flips "
    "the hash. Old snapshots stay intact — the positional query time-"
    "travels to ordinal 2 and must NOT see the equality commit.",
)
def lake_iceberg_equality_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.avro import read_avro

    root = _stage_iceberg_v2_table(spark, sf_dir)
    with open(os.path.join(root, "metadata", "version-hint.text")) as fh:
        v = fh.read().strip()
    with open(os.path.join(root, "metadata", f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    current = max(meta["snapshots"], key=lambda s: s["timestamp-ms"])
    with open(current["manifest-list"], "rb") as fh:
        _s, _c, manifests = read_avro(fh.read())
    data_paths, pos_paths, eq_paths = [], [], []
    for m in manifests:
        with open(m["manifest_path"], "rb") as fh:
            _s2, _c2, entries = read_avro(fh.read())
        for e in entries:
            if e["status"] == _ST_DELETED:
                continue
            df_ = e["data_file"]
            content = df_.get("content", 0)
            if content == 2:
                eq_paths.append(df_["file_path"])
            elif content == 1:
                pos_paths.append(df_["file_path"])
            else:
                data_paths.append(df_["file_path"])
    data = spark.read.parquet(*sorted(data_paths)).select(
        "doc_id",
        "lang",
        "n_chars",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/").alias(
            "file_norm"
        ),
        F.col("_metadata.row_index").alias("pos"),
    )
    pos_del = spark.read.parquet(*sorted(set(pos_paths))).select(
        F.regexp_replace(F.col("file_path"), "^file:/*", "/").alias(
            "del_norm"
        ),
        F.col("pos").alias("del_pos"),
    )
    eq_del = spark.read.parquet(*sorted(set(eq_paths))).select(
        F.col("lang").alias("del_lang")
    )
    visible = (
        data.join(
            F.broadcast(pos_del),
            (F.col("file_norm") == F.col("del_norm"))
            & (F.col("pos") == F.col("del_pos")),
            "left_anti",
        )
        .join(
            F.broadcast(eq_del),
            F.col("lang") == F.col("del_lang"),
            "left_anti",
        )
    )
    return (
        visible.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_visible"),
            F.sum("n_chars").cast("long").alias("sum_chars_visible"),
        )
        .orderBy("lang")
    )

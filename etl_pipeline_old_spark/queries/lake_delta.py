"""Delta Lake transaction-log reading — the OTHER open table format,
beside Iceberg (lake_iceberg.py), written from the public Delta
protocol (github.com/delta-io/delta PROTOCOL.md): numbered JSON
commits of protocol/metaData/add/remove actions under ``_delta_log/``,
a parquet checkpoint summarizing the log prefix, and the
``_last_checkpoint`` pointer.

The Spark-first angle: Delta's log is newline-delimited JSON and its
checkpoint is parquet — both native Spark scans — so the ENTIRE log
replay is relational here: one ``spark.read.json`` over the commit
directory, version recovered from the file name, last-action-wins
resolved with a window, per-version live sets by a rank filter.  No
driver loop over commits; a million-commit log would replay as one
shuffle over (state_version, path).

Why it matters at 100 TB: like Iceberg's manifests, the Delta log IS
the file index — the planner reads KBs of JSON/checkpoint rows, never
LISTs the object store.  Time travel is a log-prefix replay; the
checkpoint collapses an arbitrarily long prefix into one parquet read
(the 100 TB log-compaction story, proven here by replay-equality).

Honesty note (CONFORMANCE class): no independent Delta implementation
exists in-container (no delta-spark jars, no deltalake wheel), so the
staged log is OWN-written to the protocol's shapes — a
spec-structure+roundtrip pin, stated as such.  The two layers
underneath are independently pinned: the data files are pyarrow-written
parquet scanned by Spark, and every count is hash-checked against the
documents table by the DuckDB oracles.

Scale posture: data files are written and read on the executors; the
log relation is a handful of KB; the only collects are per-version
live-file path lists (metadata, the wikidump-index class).  All staged
timestamps are deterministic constants, so staging is idempotent.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import load_table
from ..registry import register
from ..workdir import stage_fixture, write_atomic

_TS_BASE = 1_700_000_000_000  # deterministic commit timestamps (ms)


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _stage_delta_table(spark: SparkSession, sf_dir: str) -> str:
    """Three-commit Delta table over lang-partitioned parquet, the
    Iceberg staging's twin so the two formats answer the same
    questions: v0 appends era0 (doc_id%2=0) + metaData/protocol,
    v1 appends era1, v2 removes lang='zh' — plus the v2 checkpoint
    parquet and ``_last_checkpoint``."""

    def build(root: str) -> None:
        log_dir = os.path.join(root, "_delta_log")
        os.makedirs(log_dir, exist_ok=True)
        d = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang", "n_chars")
            .withColumn("era", (F.col("doc_id") % 2).cast("int"))
        )
        schema_string = d.drop("era").schema.json()

        def write_data_file(pdf):
            import os as os_

            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.sort_values("doc_id")
            era = int(pdf["era"].iloc[0])
            lang = str(pdf["lang"].iloc[0])
            rel = os_.path.join("data", f"era{era}", f"lang={lang}", "part-00000.parquet")
            final = os_.path.join(root, rel)
            os_.makedirs(os_.path.dirname(final), exist_ok=True)
            buf = pa.BufferOutputStream()
            pq.write_table(
                pa.Table.from_pandas(pdf.drop(columns=["era"]), preserve_index=False),
                buf,
                compression="snappy",
            )
            write_atomic(
                os_.path.dirname(final), os_.path.basename(final), buf.getvalue().to_pybytes()
            )
            return pd.DataFrame(
                {
                    "era": [era],
                    "lang": [lang],
                    "rel_path": [rel],
                    "n": [len(pdf)],
                    "size": [os_.path.getsize(final)],
                }
            )

        # the ONLY collect of the staging: per-file METADATA rows (what a
        # Delta writer carries into its add actions)
        files = (
            d.groupBy("era", "lang")
            .applyInPandas(
                write_data_file,
                "era int, lang string, rel_path string, n long, size long",
            )
            .collect()
        )

        def add_action(row, ts: int) -> dict:
            return {
                "add": {
                    "path": row.rel_path,
                    "partitionValues": {"lang": row.lang},
                    "size": row.size,
                    "modificationTime": ts,
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": row.n}),
                }
            }

        def remove_action(row, ts: int) -> dict:
            return {
                "remove": {
                    "path": row.rel_path,
                    "deletionTimestamp": ts,
                    "dataChange": True,
                }
            }

        def write_commit(version: int, actions: list[dict]) -> None:
            path = os.path.join(log_dir, _commit_name(version))
            with open(path, "w", encoding="utf-8") as fh:
                for a in actions:
                    fh.write(json.dumps(a, sort_keys=True) + "\n")

        era0 = sorted((r for r in files if r.era == 0), key=lambda r: r.lang)
        era1 = sorted((r for r in files if r.era == 1), key=lambda r: r.lang)

        write_commit(
            0,
            [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {
                    "metaData": {
                        "id": "00000000-0000-0000-0000-00000000d014",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": ["lang"],
                        "configuration": {},
                        "createdTime": _TS_BASE,
                    }
                },
                *[add_action(r, _TS_BASE + 1) for r in era0],
                {
                    "commitInfo": {
                        "timestamp": _TS_BASE + 1,
                        "operation": "WRITE",
                    }
                },
            ],
        )
        write_commit(1, [add_action(r, _TS_BASE + 2) for r in era1])
        write_commit(
            2,
            [
                remove_action(r, _TS_BASE + 3)
                for r in era0 + era1
                if r.lang == "zh"
            ],
        )

        # v2 checkpoint: the protocol's flattened action rows as parquet —
        # one row per action, struct columns add/remove/metaData/protocol
        import pyarrow as pa
        import pyarrow.parquet as pq

        live = [r for r in era0 + era1 if r.lang != "zh"]
        removed = [r for r in era0 + era1 if r.lang == "zh"]
        cp_rows = (
            [
                {
                    "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
                    "metaData": None,
                    "add": None,
                    "remove": None,
                },
                {
                    "protocol": None,
                    "metaData": {
                        "id": "00000000-0000-0000-0000-00000000d014",
                        "schemaString": schema_string,
                        "partitionColumns": ["lang"],
                    },
                    "add": None,
                    "remove": None,
                },
            ]
            + [
                {
                    "protocol": None,
                    "metaData": None,
                    "add": {
                        "path": r.rel_path,
                        "partitionValues": {"lang": r.lang},
                        "size": r.size,
                        "modificationTime": _TS_BASE + 1,
                        "dataChange": False,
                        "stats": json.dumps({"numRecords": r.n}),
                    },
                    "remove": None,
                }
                for r in live
            ]
            + [
                {
                    "protocol": None,
                    "metaData": None,
                    "add": None,
                    "remove": {
                        "path": r.rel_path,
                        "deletionTimestamp": _TS_BASE + 3,
                        "dataChange": False,
                    },
                }
                for r in removed
            ]
        )
        cp_path = os.path.join(log_dir, f"{2:020d}.checkpoint.parquet")
        pq.write_table(
            pa.Table.from_pylist(cp_rows), cp_path, compression="snappy"
        )
        with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
            json.dump({"version": 2, "size": len(cp_rows)}, fh)

    return stage_fixture("delta", sf_dir, build)


def _log_actions(spark: SparkSession, root: str) -> DataFrame:
    """The whole commit log as ONE relation: (version, add struct,
    remove struct) — version from the commit file name, the Delta
    naming contract."""
    log_glob = os.path.join(root, "_delta_log", "*.json")
    raw = spark.read.json(log_glob).withColumn(
        "version",
        F.regexp_extract(F.input_file_name(), r"(\d+)\.json", 1).cast("long"),
    )
    cols = set(raw.columns)
    out = raw.select(
        "version",
        (F.col("add") if "add" in cols else F.lit(None)).alias("add"),
        (F.col("remove") if "remove" in cols else F.lit(None)).alias("remove"),
    )
    return out


def _live_files(actions: DataFrame, versions: DataFrame) -> DataFrame:
    """Per state_version live add set, last-action-wins: every action at
    version <= state_version ranked per (state_version, path) by action
    version, newest kept, adds survive."""
    acts = actions.select(
        "version",
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        F.when(F.col("add").isNotNull(), F.lit("add"))
        .when(F.col("remove").isNotNull(), F.lit("remove"))
        .alias("kind"),
        F.get_json_object(F.col("add.stats"), "$.numRecords")
        .cast("long")
        .alias("num_records"),
        F.col("add.partitionValues.lang").alias("lang"),
    ).where(F.col("kind").isNotNull())
    joined = versions.join(
        acts, acts["version"] <= versions["state_version"]
    )
    w = Window.partitionBy("state_version", "path").orderBy(
        F.col("version").desc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("kind") == "add"))
        .select("state_version", "path", "num_records", "lang")
    )


@register(
    "lake_delta_time_travel",
    oracle="""
    SELECT 0 AS state_version,
      (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_files,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_docs_stats,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_docs_scanned
    UNION ALL SELECT 1,
      (SELECT CAST(COUNT(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
         AS BIGINT) FROM documents),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
    UNION ALL SELECT 2,
      (SELECT CAST(COUNT(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
         AS BIGINT) FROM documents WHERE lang <> 'zh'),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE lang <> 'zh'),
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE lang <> 'zh')
    """,
    doc="Delta Lake time travel on a three-commit staged log (append "
    "era0 + metaData, append era1, remove lang='zh') replayed "
    "RELATIONALLY: one spark.read.json over _delta_log, version from "
    "the commit file name, last-action-wins per (state_version, path) "
    "via a window rank — no driver loop over commits, the shape that "
    "replays a million-commit log as one shuffle. Per version the "
    "answer is double-checked: n_docs_stats sums the add actions' "
    "stats.numRecords claims (the metadata-only path a 100 TB planner "
    "uses), n_docs_scanned actually scans that version's live parquet "
    "files. The oracle recomputes all three versions from the "
    "documents table; the protocol's core promise — old versions "
    "unaffected by later removes — is rows 0 and 1 staying intact "
    "after row 2's delete.",
)
def lake_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _stage_delta_table(spark, sf_dir)
    actions = _log_actions(spark, root)
    versions = spark.range(3).select(F.col("id").cast("long").alias("state_version"))
    live = _live_files(actions, versions)
    meta_side = live.groupBy("state_version").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("num_records").cast("long").alias("n_docs_stats"),
    )
    # scanned side: per-version live path lists (metadata-class collect)
    rows = live.select("state_version", "path").collect()
    by_v: dict[int, list[str]] = {}
    for r in rows:
        by_v.setdefault(int(r.state_version), []).append(
            os.path.join(root, r.path)
        )
    scanned = None
    for v, paths in sorted(by_v.items()):
        agg = (
            spark.read.parquet(*sorted(set(paths)))
            .agg(F.count("*").cast("long").alias("n_docs_scanned"))
            .select(
                F.lit(v).cast("int").alias("state_version"), "n_docs_scanned"
            )
        )
        scanned = agg if scanned is None else scanned.unionByName(agg)
    return (
        meta_side.withColumn(
            "state_version", F.col("state_version").cast("int")
        )
        .join(scanned, "state_version")
        .orderBy("state_version")
    )


@register(
    "lake_delta_checkpoint_scan",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(DISTINCT lang || CAST(doc_id % 2 AS VARCHAR))
         AS BIGINT) FROM documents WHERE lang <> 'zh') AS n_files,
      CAST(COUNT(*) AS BIGINT) AS n_docs_stats,
      1 AS replay_equal
    FROM documents WHERE lang <> 'zh'
    """,
    doc="Delta checkpoint resolution: _last_checkpoint names the "
    "checkpoint version, the checkpoint PARQUET (a native Spark scan — "
    "Delta's log compaction is just parquet) yields the action rows, "
    "live files are its adds minus its removes, and any commits AFTER "
    "the checkpoint version would replay on top (none here, the staged "
    "log ends at the checkpoint). replay_equal=1 asserts the "
    "checkpoint state EQUALS the full JSON-log replay file-for-file "
    "(an anti-join both ways must come up empty) — the protocol's "
    "compaction contract, which is what lets a reader of a "
    "million-commit table read one parquet file plus a tail instead "
    "of the whole log. Counts value-checked against the documents "
    "table by the oracle.",
)
def lake_delta_checkpoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _stage_delta_table(spark, sf_dir)
    with open(os.path.join(root, "_delta_log", "_last_checkpoint")) as fh:
        cp = json.load(fh)
    cp_path = os.path.join(
        root, "_delta_log", f"{cp['version']:020d}.checkpoint.parquet"
    )
    cp_df = spark.read.parquet(cp_path)
    cp_adds = cp_df.where(F.col("add").isNotNull()).select(
        F.col("add.path").alias("path"),
        F.get_json_object(F.col("add.stats"), "$.numRecords")
        .cast("long")
        .alias("num_records"),
    )
    cp_removes = cp_df.where(F.col("remove").isNotNull()).select(
        F.col("remove.path").alias("path")
    )
    cp_live = cp_adds.join(cp_removes, "path", "left_anti")
    # the full JSON replay at the checkpoint version must agree
    actions = _log_actions(spark, root)
    versions = spark.createDataFrame(
        [(int(cp["version"]),)], "state_version long"
    )
    replay_live = _live_files(actions, versions).select("path")
    only_cp = cp_live.select("path").exceptAll(replay_live)
    only_replay = replay_live.exceptAll(cp_live.select("path"))
    mismatches = only_cp.unionAll(only_replay).count()  # metadata-sized
    return cp_live.agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("num_records").cast("long").alias("n_docs_stats"),
        F.lit(1 if mismatches == 0 else 0).cast("int").alias("replay_equal"),
    )


@register(
    "lake_delta_quarantine",
    oracle="""
    SELECT 0 AS state_version, TRUE AS ok,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
         WHERE doc_id % 2 = 0) AS n_docs_stats
    UNION ALL SELECT 1, FALSE, NULL
    UNION ALL SELECT 2, FALSE, NULL
    """,
    doc="Delta log-damage blast radius: a copy of the staged table "
    "with commit 1 scribbled mid-file (invalid JSON). Spark's "
    "PERMISSIVE json scan surfaces the torn commit as _corrupt_record "
    "rows — detection stays relational — and the replay contract is "
    "PREFIX integrity: versions before the torn commit still resolve "
    "exactly (v0's stats-sum value-checked by the oracle), the torn "
    "version and everything after it come back ok=false instead of "
    "silently-wrong states. One bad commit costs the log's suffix, "
    "never the table's history — the Delta twin of Iceberg's "
    "one-torn-manifest-costs-one-snapshot.",
)
def lake_delta_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _stage_delta_table(spark, sf_dir)

    def build(root: str) -> None:
        import shutil

        log_src = os.path.join(src, "_delta_log")
        log_dst = os.path.join(root, "_delta_log")
        os.makedirs(log_dst, exist_ok=True)
        for name in os.listdir(log_src):
            if name.endswith(".json"):
                shutil.copy(
                    os.path.join(log_src, name), os.path.join(log_dst, name)
                )
        torn = os.path.join(log_dst, _commit_name(1))
        blob = bytearray(open(torn, "rb").read())
        blob[len(blob) // 2 : len(blob) // 2 + 9] = b"\x00GARBAGE\x00"
        with open(torn, "wb") as fh:
            fh.write(blob)

    root = stage_fixture("delta_torn", sf_dir, build)
    log_glob = os.path.join(root, "_delta_log", "*.json")
    # explicit-schema from_json over text lines: a torn line parses to
    # NULL (Spark disallows corrupt-record-only scans of read.json, and
    # an explicit schema also pins the action shapes we replay)
    action_ddl = (
        "STRUCT<"
        "add: STRUCT<path: STRING, partitionValues: STRUCT<lang: STRING>, "
        "size: BIGINT, modificationTime: BIGINT, dataChange: BOOLEAN, "
        "stats: STRING>, "
        "remove: STRUCT<path: STRING, deletionTimestamp: BIGINT, "
        "dataChange: BOOLEAN>, "
        "protocol: STRUCT<minReaderVersion: INT, minWriterVersion: INT>, "
        "metaData: STRUCT<id: STRING>, "
        "commitInfo: STRUCT<timestamp: BIGINT, operation: STRING>>"
    )
    raw = (
        spark.read.text(log_glob)
        .withColumn(
            "version",
            F.regexp_extract(F.input_file_name(), r"(\d+)\.json", 1).cast(
                "long"
            ),
        )
        .withColumn("parsed", F.from_json("value", action_ddl))
    )
    # a malformed line comes back as NULL or (Spark 4's PERMISSIVE
    # from_json) a struct whose every action field is null — either
    # way, a non-empty line carrying no action is torn
    unparsed = F.col("parsed").isNull() | (
        F.col("parsed.add").isNull()
        & F.col("parsed.remove").isNull()
        & F.col("parsed.protocol").isNull()
        & F.col("parsed.metaData").isNull()
        & F.col("parsed.commitInfo").isNull()
    )
    torn_floor = raw.agg(
        F.min(
            F.when(
                unparsed & (F.length(F.trim(F.col("value"))) > 0),
                F.col("version"),
            )
        ).alias("v")
    )
    actions = raw.select(
        "version",
        F.col("parsed.add").alias("add"),
        F.col("parsed.remove").alias("remove"),
    )
    versions = spark.range(3).select(
        F.col("id").cast("long").alias("state_version")
    )
    live = _live_files(actions, versions)
    stats = live.groupBy("state_version").agg(
        F.sum("num_records").cast("long").alias("n_docs_stats_raw")
    )
    return (
        versions.join(stats, "state_version", "left")
        .join(F.broadcast(torn_floor))
        .select(
            F.col("state_version").cast("int").alias("state_version"),
            (F.col("v").isNull() | (F.col("state_version") < F.col("v")))
            .alias("ok"),
            F.when(
                F.col("v").isNull() | (F.col("state_version") < F.col("v")),
                F.col("n_docs_stats_raw"),
            ).alias("n_docs_stats"),
        )
        .orderBy("state_version")
    )

"""Registry entries: storage-layout and scale-operations suite — Hive-style
partitioned write with partition-pruned readback, small-file compaction
planning, shuffle-skew diagnosis, and triangle counting on a derived graph.

The reference's layout story is a flat ``raw_data/`` directory of whole-file
CSVs rewritten per run (``/root/reference/run.py:8-9``, CSV write at
``/root/reference/extractors/fetch_asterisk_devices.py:31``) — workable at
250k rows, fatal at 100 TB. These operators are the engine-side answers:

* ``k7_partitioned_write_prune`` — the datalake layout the reference's
  date-keyed incremental append (``create_projectsync_dataset.ipynb:410-441``)
  actually wants: Hive-partitioned output so an incremental reader touches
  only the new date directories instead of re-scanning the table.
* ``layout_compaction_bins`` — the OPTIMIZE/compaction planning pass every
  long-lived partitioned table needs once small incremental appends
  accumulate (each reference run appends one small batch = one small file).
* ``skew_diagnosis`` — measurement side of the salted-join remedy
  (``join_salted_skew``): find the hot keys and size the salt factor from
  observed counts instead of guessing.
* ``graph_triangle_count`` — cohesion metric over a relationship graph
  derived relationally from the fact tables (same family as
  ``graph_pagerank`` / ``dedup_clusters``).

Scale notes (100 TB): the partitioned write is a pure distributed shuffle-free
write (each task writes its partition-local day directories); the pruned
readback reads ONLY the matching day directories — partition pruning is
asserted in ``tests/test_plans.py``. Compaction planning is one window pass
over file/group metadata (at real scale the input is the table's file
listing, a metadata-sized relation, not the data). Skew diagnosis is one
map-combined groupBy. Triangle counting joins an edge list oriented
``lo < hi``, which bounds each join's fan-out by node degree; at web scale
you orient by degree instead of id (Schank-Wagner) — same plan shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import register
from ..workdir import scratch_path


@register(
    "k7_partitioned_write_prune",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events
        WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'
        GROUP BY event_type
    """,
    doc="Hive-partitioned datalake write + partition-pruned readback: events "
    "written partitionBy(day), read back with a day-range predicate that "
    "must prune to 7 of 30 date directories (asserted in test_plans.py), "
    "then aggregated. The layout the reference's date-keyed incremental "
    "append (create_projectsync_dataset.ipynb:410-441) wants at scale.",
)
def k7_partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    path = scratch_path("events_by_day", sf_dir)
    (
        # cluster by the partition column before the write: un-clustered,
        # every one of the 32 input tasks opens a file in (nearly) every
        # day directory — ~32 small files per day; one day-keyed exchange
        # makes it one file per day (guide §6 small-files)
        ev.withColumn("day", F.to_date("ts"))
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("day").between("2024-01-01", "2024-01-07"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# compaction target: bins of ~4 KiB of document text — small enough that
# even sf0.01 (~7.5 KiB/source) splits every source into multiple bins, so
# the packing algebra is actually exercised. Real deployments size this to
# the output-file target (128-512 MiB); the algebra is scale-free.
_BIN_CHARS = 4096


@register(
    "layout_compaction_bins",
    oracle=f"""
        WITH sized AS (
            SELECT source, doc_id, n_chars,
                   sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS run_chars
            FROM documents
        )
        SELECT source,
               CAST(floor((run_chars - n_chars) / {_BIN_CHARS}.0) AS BIGINT) AS bin,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM sized
        GROUP BY source, bin
    """,
    doc="Small-file compaction planner (OPTIMIZE's planning pass): pack each "
    "source's documents, in stable doc_id order, into ~4 KiB bins via a "
    "running-size cumulative window — bin = floor(start_offset / target). "
    "Executing the plan is repartitionByRange((source, bin)) + write; at "
    "100 TB the input is the table's file-listing metadata, not the data.",
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("run_chars", F.sum("n_chars").over(w))
        .withColumn(
            "bin",
            F.floor((F.col("run_chars") - F.col("n_chars")) / F.lit(float(_BIN_CHARS))),
        )
        .groupBy("source", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars"))
    )


@register(
    "skew_diagnosis",
    oracle="""
        WITH counts AS (
            SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
        ),
        stats AS (
            SELECT count(*) AS n_keys, sum(cnt) AS total FROM counts
        )
        SELECT c.user_id, c.cnt,
               CAST(ceil(c.cnt * 1.0 * s.n_keys / s.total) AS BIGINT) AS salt_factor
        FROM counts c, stats s
        WHERE 10 * c.cnt * s.n_keys > 11 * s.total
    """,
    doc="Shuffle-skew diagnosis: per-key counts, then keys >10% above the "
    "mean (exact integer comparison: 10*cnt*n_keys > 11*total — no float "
    "threshold to disagree across engines) with a recommended salt factor "
    "ceil(cnt/mean). The measurement half of join_salted_skew: at 100 TB "
    "you diagnose on a sample or on shuffle metrics, then salt exactly the "
    "keys this emits. One map-combined groupBy + a broadcast of 2 scalars.",
)
def skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("cnt"))
    stats = counts.agg(
        F.count("*").alias("n_keys"), F.sum("cnt").alias("total")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .filter(10 * F.col("cnt") * F.col("n_keys") > 11 * F.col("total"))
        .select(
            "user_id",
            "cnt",
            F.ceil(F.col("cnt") * F.lit(1.0) * F.col("n_keys") / F.col("total"))
            .cast("bigint")
            .alias("salt_factor"),
        )
    )


@register(
    "graph_triangle_count",
    oracle="""
        WITH pairs AS (
            SELECT c.c_nationkey AS a, s.s_nationkey AS b,
                   sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS rev_cents
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey  = c.c_custkey
            JOIN supplier s ON l.l_suppkey  = s.s_suppkey
            GROUP BY a, b
        ),
        tot AS (
            SELECT count(*) AS n, sum(rev_cents) AS total FROM pairs
        ),
        edges AS (
            SELECT DISTINCT least(a, b) AS lo, greatest(a, b) AS hi
            FROM pairs, tot
            WHERE a <> b AND 10 * n * rev_cents > 12 * total
        )
        SELECT count(*) AS triangles
        FROM edges e1
        JOIN edges e2 ON e2.lo = e1.hi
        JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    """,
    doc="Triangle count over the strong-trade graph: nations are vertices, "
    "an edge exists where customer-nation -> supplier-nation trade revenue "
    "exceeds 1.2x the mean pair revenue (summed as exact BIGINT cents so "
    "the edge set cannot differ across engines by float summation order). "
    "Edges oriented lo < hi, so each triangle is counted once and join "
    "fan-out is bounded by ordered degree (Schank-Wagner; orient by degree "
    "at web scale).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("a"), s.s_nationkey.alias("b")
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "rev_cents"
            )
        )
    )
    # pairs is <= n_nations^2 rows but its subtree is the FULL fact join —
    # referenced lazily by tot AND the three triangle legs, the plan ran
    # the lineitem⋈orders join FOUR times (48 parquet scans / 4
    # SortMergeJoins in the r14 before-plan). One eager localCheckpoint
    # (~625 rows) runs the fact join once; everything downstream scans it.
    pairs = pairs.localCheckpoint(eager=True)
    tot = pairs.agg(F.count("*").alias("n"), F.sum("rev_cents").alias("total"))
    edges = (
        pairs.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("a") != F.col("b"))
            & (10 * F.col("n") * F.col("rev_cents") > 12 * F.col("total"))
        )
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    return (
        e1.join(e2, F.col("e2.lo") == F.col("e1.hi"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo")) & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .agg(F.count("*").alias("triangles"))
    )


_RETAIN_FROM = "2024-01-15"  # retention cutoff: keep this day onward


@register(
    "layout_retention_vacuum",
    oracle=f"""
    SELECT count(*)::BIGINT AS rows_after,
           count(DISTINCT CAST(ts AS DATE))::BIGINT AS days_after,
           strftime(min(CAST(ts AS DATE)), '%Y-%m-%d') AS oldest_day
    FROM events
    WHERE CAST(ts AS DATE) >= DATE '{_RETAIN_FROM}'
    """,
    doc="Partition-level retention (the time-to-live sweep every event "
    f"lake runs): events written partitionBy(day); every day < "
    f"{_RETAIN_FROM} is dropped by REMOVING ITS PARTITION DIRECTORY — "
    "never a row-level rewrite. The surviving table is read back and "
    "audited (row count, day count, oldest day) against the batch "
    "predicate, so a sweep that deleted a wrong directory or left a "
    "partial one fails the hash. At 100 TB this is ALTER TABLE DROP "
    "PARTITION + storage GC: pure metadata + O(dropped files) deletes, "
    "zero data scanned — the same elision k9's DPP gives reads, applied "
    "to deletion. Complements gdpr_erasure_propagation (row-level "
    "erasure) with the bulk age-out path.",
)
def layout_retention_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    ev = load_table(spark, sf_dir, "events")
    path = scratch_path("events_retention", sf_dir)
    (
        # day-keyed exchange before the write: one file per day directory
        # instead of one per (task, day) — see k7 (guide §6 small-files)
        ev.withColumn("day", F.to_date("ts"))
        .repartition("day")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    # the vacuum: directory-level drop of expired partitions (driver-side
    # here; a metadata catalog + parallel GC at scale — the point is that
    # NO parquet data is read or rewritten to delete)
    for entry in os.listdir(path):
        if entry.startswith("day=") and entry[4:] < _RETAIN_FROM:
            shutil.rmtree(os.path.join(path, entry))
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").cast("long").alias("rows_after"),
        F.countDistinct("day").cast("long").alias("days_after"),
        F.date_format(F.min("day"), "yyyy-MM-dd").alias("oldest_day"),
    )


# --- right-to-erasure, EXECUTED copy-on-write at the layout level ----------
COW_BUCKETS = 16  # user-hash clustering width of the staged lake
COW_ERASE_MOD = 20  # same manifest rule as gdpr_erasure_propagation


@register(
    "layout_erasure_cow",
    oracle=f"""
    WITH erase AS (
      SELECT DISTINCT user_id FROM events
      WHERE ('0x' || substr(md5('erase:' || user_id::VARCHAR), 1, 15))
              ::UBIGINT::BIGINT % {COW_ERASE_MOD} = 0),
    tagged AS (
      SELECT user_id, user_id % {COW_BUCKETS} AS bucket FROM events)
    SELECT (SELECT count(DISTINCT bucket) FROM tagged)::BIGINT
             AS n_parts_total,
           (SELECT count(DISTINCT bucket) FROM tagged
             WHERE user_id IN (SELECT user_id FROM erase))::BIGINT
             AS n_parts_touched,
           count(*)::BIGINT AS rows_before,
           sum(CASE WHEN user_id IN (SELECT user_id FROM erase)
                    THEN 1 ELSE 0 END)::BIGINT AS rows_deleted,
           sum(CASE WHEN user_id IN (SELECT user_id FROM erase)
                    THEN 0 ELSE 1 END)::BIGINT AS rows_after
    FROM tagged
    """,
    doc="Right-to-erasure EXECUTED copy-on-write at the layout level (r5 "
    "verdict #8; gdpr_erasure_propagation audits the logical half): the "
    f"lake is staged CLUSTERED BY the erasure key — partitionBy(user_id "
    f"% {COW_BUCKETS}) — which is what bounds DSAR cost in a real lake; "
    "the hash-selected erasure manifest then maps to its affected "
    "partitions, and the rewrite reads ONLY those partitions "
    "(partition-pruned scan), anti-joins the broadcast manifest, and "
    "swaps exactly those directories back via dynamic partition "
    "overwrite — every untouched partition's files are left byte-"
    "identical (asserted on mtime+size in tests/test_storage_layout.py), "
    "the deletion-vector-free COW that Delta/Iceberg DELETE performs. A "
    "bucket whose rows ALL belonged to erased users would yield no "
    "survivor rows for dynamic overwrite to swap, so such directories "
    "are dropped explicitly. At 100 TB: touched work is O(partitions "
    "containing erased users) = O(manifest) under user clustering, never "
    "a table rewrite; the audit row (partition counts, before/deleted/"
    "after) is read back from the REWRITTEN lake, so a COW that lost or "
    "leaked rows fails the value hash.",
)
def layout_erasure_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..operators.dedup import md5_long

    ev = load_table(spark, sf_dir, "events")
    path = scratch_path("events_erasure", sf_dir)
    staged = ev.withColumn("bucket", (F.col("user_id") % COW_BUCKETS).cast("int"))
    staged.write.mode("overwrite").partitionBy("bucket").parquet(path)
    rows_before = spark.read.parquet(path).count()
    # partition count measured from the layout itself, like
    # layout_compaction_execute's file counts
    n_parts_total = sum(1 for f in os.listdir(path) if f.startswith("bucket="))

    erase = (
        ev.select("user_id")
        .distinct()
        .filter(
            md5_long(F.concat(F.lit("erase:"), F.col("user_id").cast("string")))
            % COW_ERASE_MOD
            == 0
        )
    )
    # the manifest is tiny by construction (a DSAR batch); collecting it
    # builds the partition-prune literals, exactly like the ANN probe's
    # query-side collect (operators/similarity.py). Buckets are derived
    # IN-PLAN with the same `%` the staged column used: Python's modulo
    # disagrees with Spark/DuckDB on negative user_ids (-3 % 16 is 13 in
    # Python, -3 in SQL), so a driver-side `uid % COW_BUCKETS` would
    # mis-target negative-bucket directories and leak erased rows.
    erased = erase.select(
        "user_id", (F.col("user_id") % COW_BUCKETS).cast("int").alias("bucket")
    ).collect()
    erased_ids = [r.user_id for r in erased]
    touched = sorted({r.bucket for r in erased})

    # COW: read ONLY the affected partitions (PartitionFilters on bucket),
    # drop the manifest's rows, swap those directories back. An empty
    # manifest (possible at tiny SFs) means zero touched partitions and
    # the rewrite is skipped outright — the O(manifest) invariant.
    if touched:
        affected = spark.read.parquet(path).filter(F.col("bucket").isin(touched))
        # persist: the overwrite below replaces the very files this frame
        # scans, so both consumers (the bucket audit and the write) must
        # read the pinned pre-swap blocks, never the swapped listing
        survivors = affected.filter(~F.col("user_id").isin(erased_ids)).persist()
        # a fully-erased bucket leaves no survivor rows for dynamic
        # overwrite to swap — record them BEFORE the swap and drop their
        # directories explicitly (none at test SFs, but the job must not
        # leak them on adversarial data)
        left = {
            r.bucket for r in survivors.select("bucket").distinct().collect()
        }
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(path)
        )
        survivors.unpersist()
        for b in touched:
            if b not in left:
                shutil.rmtree(
                    os.path.join(path, f"bucket={b}"), ignore_errors=True
                )

    back = spark.read.parquet(path)
    return back.agg(F.count("*").cast("long").alias("rows_after")).select(
        F.lit(n_parts_total).cast("long").alias("n_parts_total"),
        F.lit(len(touched)).cast("long").alias("n_parts_touched"),
        F.lit(rows_before).cast("long").alias("rows_before"),
        (F.lit(rows_before) - F.col("rows_after")).cast("long").alias("rows_deleted"),
        "rows_after",
    )


@register(
    "layout_erasure_dv",
    oracle=f"""
    WITH erase AS (
      SELECT DISTINCT user_id FROM events
      WHERE ('0x' || substr(md5('erase:' || user_id::VARCHAR), 1, 15))
              ::UBIGINT::BIGINT % {COW_ERASE_MOD} = 0),
    tagged AS (
      SELECT user_id, user_id % {COW_BUCKETS} AS bucket FROM events)
    SELECT (SELECT count(DISTINCT bucket) FROM tagged)::BIGINT
             AS n_files_total,
           (SELECT count(DISTINCT bucket) FROM tagged
             WHERE user_id IN (SELECT user_id FROM erase))::BIGINT
             AS n_files_with_dv,
           sum(CASE WHEN user_id IN (SELECT user_id FROM erase)
                    THEN 1 ELSE 0 END)::BIGINT AS n_tombstones,
           sum(CASE WHEN user_id IN (SELECT user_id FROM erase)
                    THEN 0 ELSE 1 END)::BIGINT AS rows_visible
    FROM tagged
    """,
    doc="Right-to-erasure MERGE-ON-READ — the deletion-vector half of the "
    "story layout_erasure_cow executes as copy-on-write: the erasure "
    "manifest is resolved to a POSITIONAL deletion vector of real "
    "(file_path, row_index) pairs via the parquet scan's _metadata "
    "column (exactly what a Delta/Iceberg DV stores), and the read path "
    "then broadcast-anti-joins the DV BY POSITION — not by key — so "
    "readers never need the manifest and NOT ONE data file is rewritten "
    "(asserted on file mtimes in tests/test_storage_layout.py; the "
    "staged lake is one file per user-bucket, so the DV's file fan-out "
    "is deterministic). The audit row (files total / files carrying "
    "tombstones / tombstone count / rows visible through the DV) is "
    "computed entirely in-plan, zero driver collects. At 100 TB this is "
    "the DELETE fast path: O(manifest) DV build cost and unchanged "
    "files, traded against a per-read anti-join until compaction (the "
    "COW query) materializes the deletes.",
)
def layout_erasure_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_long

    ev = load_table(spark, sf_dir, "events")
    path = scratch_path("events_erasure_dv", sf_dir)
    staged = ev.withColumn("bucket", (F.col("user_id") % COW_BUCKETS).cast("int"))
    # one task per bucket -> exactly one file per bucket directory: the
    # DV's file fan-out equals the touched-bucket count, deterministically
    (
        staged.repartition(COW_BUCKETS, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )

    scan = spark.read.parquet(path).select(
        "user_id",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__i"),
    )
    is_erased = (
        md5_long(F.concat(F.lit("erase:"), F.col("user_id").cast("string")))
        % COW_ERASE_MOD
        == 0
    )
    dv = scan.filter(is_erased).select("__f", "__i")
    # merge-on-read: tombstones applied by POSITION; the broadcast DV is
    # tiny by construction (a DSAR batch)
    visible = scan.join(F.broadcast(dv), ["__f", "__i"], "left_anti")

    audit_vis = visible.agg(F.count("*").cast("long").alias("rows_visible"))
    audit_dv = dv.agg(
        F.count("*").cast("long").alias("n_tombstones"),
        F.countDistinct("__f").cast("long").alias("n_files_with_dv"),
    )
    audit_files = scan.agg(
        F.countDistinct("__f").cast("long").alias("n_files_total")
    )
    return (
        audit_files.crossJoin(F.broadcast(audit_dv))
        .crossJoin(F.broadcast(audit_vis))
        .select("n_files_total", "n_files_with_dv", "n_tombstones", "rows_visible")
    )


# Compaction trigger: rewrite a file once tombstones exceed this fraction
# of its rows (Delta's OPTIMIZE and Iceberg's rewrite_data_files use the
# same shape of threshold). 0.15 splits the sf0.01 DV lake 2 rewritten /
# 2 still-tombstoned, so both paths are exercised by the oracle.
DV_COMPACT_FRAC = 0.15


def _stage_dv_lake(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Stage the user-bucketed events lake with exactly one file per bucket
    directory (same layout layout_erasure_dv stages)."""
    ev = load_table(spark, sf_dir, "events")
    staged = ev.withColumn("bucket", (F.col("user_id") % COW_BUCKETS).cast("int"))
    (
        staged.repartition(COW_BUCKETS, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def _dv_compact(spark: SparkSession, path: str) -> DataFrame:
    """MOR→COW compaction over an already-staged DV lake: build the
    positional deletion vector, rewrite ONLY the files whose tombstone
    fraction exceeds DV_COMPACT_FRAC (materializing their deletes), keep
    the DV entries of every other file, and audit that the rows visible
    through the (now smaller) DV are unchanged. Shared by the registered
    query and the physical byte-identity lock in tests/test_storage_layout."""
    import shutil

    from ..operators.dedup import md5_long

    scan = spark.read.parquet(path).select(
        "user_id",
        "bucket",
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__i"),
    )
    is_erased = (
        md5_long(F.concat(F.lit("erase:"), F.col("user_id").cast("string")))
        % COW_ERASE_MOD
        == 0
    )
    dv = scan.filter(is_erased).select("bucket", "__f", "__i").persist()

    # planning pass: per-file tombstone fraction. The per-file stats frame
    # is file-listing-sized (one row per data file) — collecting it is the
    # metadata-sized driver step every OPTIMIZE planner performs, same
    # pattern as layout_compaction_execute's sizing read.
    per_file = (
        scan.groupBy("bucket", "__f")
        .agg(F.count("*").alias("n_rows"))
        .join(
            dv.groupBy("__f").agg(F.count("*").alias("n_tomb")), "__f", "left"
        )
        .withColumn("n_tomb", F.coalesce("n_tomb", F.lit(0)))
        .withColumn("frac", F.col("n_tomb") / F.col("n_rows"))
        .collect()
    )
    rewrite_buckets = sorted(
        r.bucket for r in per_file if r.frac >= DV_COMPACT_FRAC
    )
    n_files_total = len(per_file)
    tomb_total = sum(r.n_tomb for r in per_file)
    tomb_mat = sum(r.n_tomb for r in per_file if r.frac >= DV_COMPACT_FRAC)

    # the invariant the oracle checks: visibility through the DV must not
    # change across compaction — measured BEFORE the rewrite...
    rows_visible_before = scan.join(
        F.broadcast(dv.select("__f", "__i")), ["__f", "__i"], "left_anti"
    ).count()
    # ...and the surviving DV (entries of files NOT rewritten) pinned to a
    # LOCAL relation before the overwrite invalidates the staged listing —
    # a DSAR-batch-sized collect, same scale argument as layout_erasure_cow's
    # manifest collect (the full-lake DV would be partitioned state; the
    # *surviving* DV is by construction the low-fraction tail).
    rem_rows = [
        (r["__f"], r["__i"])
        for r in dv.filter(~F.col("bucket").isin(rewrite_buckets))
        .select("__f", "__i")
        .collect()
    ]
    remaining = spark.createDataFrame(rem_rows, "__f string, __i long")

    if rewrite_buckets:
        # COW half: partition-pruned read of just the high-fraction files,
        # deletes applied BY POSITION (the DV semantics, not the key
        # semantics), dynamic partition overwrite swaps the directories
        affected = (
            spark.read.parquet(path)
            .filter(F.col("bucket").isin(rewrite_buckets))
            .withColumn("__f", F.col("_metadata.file_path"))
            .withColumn("__i", F.col("_metadata.row_index"))
        )
        survivors = (
            affected.join(
                F.broadcast(dv.select("__f", "__i")), ["__f", "__i"], "left_anti"
            )
            .drop("__f", "__i")
            .persist()
        )
        # a fully-tombstoned file leaves nothing for dynamic overwrite to
        # swap — drop its directory explicitly (the sf0.001 edge, same as
        # layout_erasure_cow)
        left = {r.bucket for r in survivors.select("bucket").distinct().collect()}
        (
            survivors.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(path)
        )
        survivors.unpersist()
        for b in rewrite_buckets:
            if b not in left:
                shutil.rmtree(
                    os.path.join(path, f"bucket={b}"), ignore_errors=True
                )
    dv.unpersist()

    # read path after compaction: rewritten files carry no tombstones, the
    # untouched files' DV entries still resolve (their paths are unchanged
    # — asserted byte-identical in tests/test_storage_layout.py)
    back = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("__f"),
        F.col("_metadata.row_index").alias("__i"),
    )
    audit_vis = back.join(
        F.broadcast(remaining), ["__f", "__i"], "left_anti"
    ).agg(F.count("*").cast("long").alias("rows_visible_after"))
    return audit_vis.select(
        F.lit(n_files_total).cast("long").alias("n_files_total"),
        F.lit(len(rewrite_buckets)).cast("long").alias("n_files_rewritten"),
        F.lit(tomb_mat).cast("long").alias("tombstones_materialized"),
        F.lit(tomb_total - tomb_mat).cast("long").alias("tombstones_remaining"),
        F.lit(rows_visible_before).cast("long").alias("rows_visible_before"),
        "rows_visible_after",
    )


def _snapshot_commit(log_dir: str):
    """Optimistic-concurrency commit writer for the snapshot log: the
    entry's full content lands in a writer-private temp file, then an
    os.link CLAIMS the version number atomically — a second writer racing
    for the same version gets FileExistsError and must re-read the log
    and retry at the next number (exactly Delta's OCC protocol; the
    conflict mechanic and an 8-writer contention stress are exercised in
    tests/test_storage_layout.py). The temp name carries a uuid, not
    just the pid: two writer THREADS in one process racing the same
    version with a pid-keyed name would share the temp file — one could
    link the other's content under its claimed version (found by the
    multi-writer stress test, r8)."""
    import json
    import uuid

    def commit(n: int, add: list[str], remove: list[str]) -> None:
        tmp = os.path.join(log_dir, f".{n:05d}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"version": n, "add": add, "remove": remove}, fh)
        try:
            os.link(tmp, os.path.join(log_dir, f"{n:05d}.json"))
        finally:
            os.unlink(tmp)

    return commit


@register(
    "layout_snapshot_log",
    oracle="""
    SELECT 0 AS version, count(*)::BIGINT AS n_rows, 4 AS n_files
    FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT 1, count(*)::BIGINT, 8 FROM events WHERE event_id % 3 IN (0, 1)
    UNION ALL
    SELECT 2, count(*)::BIGINT, 2 FROM events WHERE event_id % 3 IN (0, 1)
    UNION ALL
    SELECT 3, count(*)::BIGINT, 2 FROM events
    WHERE event_id % 3 IN (0, 1) AND user_id % 10 <> 0
    """,
    doc="Snapshot-isolation commit log EXECUTED on plain parquet — the "
    "metadata layer that turns a directory of files into a versioned "
    "table (the Delta/Iceberg transaction-log primitive, built from "
    "first principles): four commits are written to a _log/ of numbered "
    "JSON entries, each listing data files added/removed — v0 initial "
    "load (4 files), v1 incremental append (+4), v2 compaction (8 small "
    "files rewritten into 2; rows unchanged), v3 DELETE (rewrite "
    "dropping user_id%10=0). Readers TIME-TRAVEL by replaying the log to "
    "a version and scanning exactly that file set; removed files stay on "
    "disk (vacuum is layout_retention_vacuum's job), so the v0/v1 audits "
    "— computed AFTER the compaction and delete commits — still see the "
    "original rows: the oracle cross-checks every version's row count "
    "from the commit rules, proving old snapshots are unaffected by "
    "later writers. All four audits are lazy unions over the pinned file "
    "sets, zero driver collects of data. At 100 TB this is how "
    "concurrent readers get consistency without locks: O(log) replay "
    "cost, file-listing-sized metadata, writers append commits "
    "atomically.",
)
def layout_snapshot_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil
    from functools import reduce

    ev = load_table(spark, sf_dir, "events")
    root = scratch_path("snaplog", sf_dir)
    shutil.rmtree(root, ignore_errors=True)  # replay from genesis: idempotent
    log_dir = os.path.join(root, "_log")
    os.makedirs(log_dir, exist_ok=True)

    def parts(sub: str) -> list[str]:
        d = os.path.join(root, sub)
        return sorted(
            f"{sub}/{f}" for f in os.listdir(d) if f.startswith("part-")
        )

    commit = _snapshot_commit(log_dir)

    def active_files(version: int) -> list[str]:
        files: set[str] = set()
        for n in range(version + 1):
            with open(os.path.join(log_dir, f"{n:05d}.json"), encoding="utf-8") as fh:
                entry = json.load(fh)
            files.difference_update(entry["remove"])
            files.update(entry["add"])
        return sorted(files)

    # v0: initial load, 4 files
    ev.filter(F.col("event_id") % 3 == 0).repartition(4).write.parquet(
        os.path.join(root, "batch-0")
    )
    commit(0, parts("batch-0"), [])
    # v1: incremental append, 4 more files
    ev.filter(F.col("event_id") % 3 == 1).repartition(4).write.parquet(
        os.path.join(root, "batch-1")
    )
    commit(1, parts("batch-1"), [])
    # v2: compaction — rewrite the 8 small files into 2, rows unchanged
    # (reads the v1 snapshot, writes NEW files, never touches the old)
    v1_files = active_files(1)
    spark.read.parquet(*[os.path.join(root, f) for f in v1_files]).repartition(
        2
    ).write.parquet(os.path.join(root, "compact-2"))
    commit(2, parts("compact-2"), v1_files)
    # v3: DELETE user_id % 10 = 0 — rewrite of the 2 active files
    v2_files = active_files(2)
    spark.read.parquet(*[os.path.join(root, f) for f in v2_files]).filter(
        F.col("user_id") % 10 != 0
    ).repartition(2).write.parquet(os.path.join(root, "delete-3"))
    commit(3, parts("delete-3"), v2_files)

    # time-travel audits: every version replayed from the log AFTER all
    # commits landed — lazy unions, so the whole audit is one Spark job
    audits = []
    for v in range(4):
        files = active_files(v)
        audits.append(
            spark.read.parquet(*[os.path.join(root, f) for f in files])
            .agg(F.count("*").cast("long").alias("n_rows"))
            .select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                F.lit(len(files)).cast("int").alias("n_files"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), audits)


@register(
    "layout_dv_compaction",
    oracle=f"""
    WITH t AS (
      SELECT user_id, user_id % {COW_BUCKETS} AS bucket,
             CASE WHEN ('0x' || substr(md5('erase:' || user_id::VARCHAR), 1, 15))
                       ::UBIGINT::BIGINT % {COW_ERASE_MOD} = 0
                  THEN 1 ELSE 0 END AS er
      FROM events),
    fb AS (
      SELECT bucket, count(*) AS n, sum(er) AS tomb,
             sum(er) / count(*)::DOUBLE AS frac
      FROM t GROUP BY bucket)
    SELECT (SELECT count(*) FROM fb)::BIGINT AS n_files_total,
           (SELECT count(*) FROM fb WHERE frac >= {DV_COMPACT_FRAC})::BIGINT
             AS n_files_rewritten,
           (SELECT coalesce(sum(tomb), 0) FROM fb
              WHERE frac >= {DV_COMPACT_FRAC})::BIGINT
             AS tombstones_materialized,
           (SELECT coalesce(sum(tomb), 0) FROM fb
              WHERE frac < {DV_COMPACT_FRAC})::BIGINT
             AS tombstones_remaining,
           (SELECT sum(1 - er) FROM t)::BIGINT AS rows_visible_before,
           (SELECT sum(1 - er) FROM t)::BIGINT AS rows_visible_after
    """,
    doc="MOR→COW lifecycle closer (r6 verdict #4): layout_erasure_dv "
    "leaves tombstones applied at read time forever; this query EXECUTES "
    "the periodic compaction a real lake runs — stage the same one-file-"
    "per-bucket DV lake, build the positional deletion vector, rewrite "
    f"ONLY the files whose tombstone fraction is ≥ {DV_COMPACT_FRAC} "
    "(partition-pruned read, deletes applied BY POSITION via broadcast "
    "anti-join, dynamic partition overwrite swaps exactly those "
    "directories, a fully-tombstoned file's directory is dropped "
    "explicitly), and drop the materialized entries from the DV. The "
    "audit row proves the contract: tombstones split into materialized + "
    "remaining, and rows visible through the DV are IDENTICAL before and "
    "after (the oracle computes both from the erasure rule, so a rewrite "
    "that lost or resurrected even one row fails the value hash). "
    "Untouched files are asserted byte-identical in "
    "tests/test_storage_layout.py. At 100 TB: planning reads file-"
    "listing-sized stats, the rewrite touches O(high-fraction files), "
    "and every read between compactions pays the anti-join only for "
    "still-tombstoned files.",
)
def layout_dv_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch_path("events_dv_compact", sf_dir)
    _stage_dv_lake(spark, sf_dir, path)
    return _dv_compact(spark, path)

"""Lakehouse-style sink/ingest semantics and late-wave warehouse ops:
dynamic partition overwrite (day restatement without a table rewrite),
the Spark 4 SQL-scripting exhibit, the l-diversity privacy gate, the
incremental corpus-refresh capstone, the CLIP-shape contrastive
pair-alignment diagnostic, file-level corrupt-input tolerance, the
hidden _metadata ingest audit, and the point-in-time SCD2 lookup join.

Dynamic partition overwrite is the day-correction pattern every
date-partitioned incremental pipeline eventually needs (a late-arriving
restatement replaces ONE day's directory; every other partition's files
stay untouched).

The reference's date-keyed incremental append
(/root/reference/datasets/create_projectsync_dataset.ipynb:410-441) can
only add rows; restating a day there means a manual DELETE + reload. With
``partitionOverwriteMode=dynamic`` the overwrite is scoped to exactly the
partitions present in the incoming frame — at 100 TB that is one
directory swap per restated day, not a table rewrite, and it is atomic
per partition (the job commits each day directory whole).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workdir import reap_warehouse, scratch_path, table_name
from ..catalog import load_table
from ..registry import register


# the restated day and the audit window proving its neighbors were untouched
FIX_DAY = "2024-01-03"
AUDIT_LO, AUDIT_HI = "2024-01-01", "2024-01-05"


@register(
    "k8_dynamic_partition_overwrite",
    oracle=f"""
    WITH tagged AS (
      SELECT CAST(ts AS DATE) AS day, event_id,
             CASE WHEN CAST(ts AS DATE) = DATE '{FIX_DAY}'
                  THEN value * 2 ELSE value END AS value
      FROM events)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           count(*)::BIGINT AS n_events,
           round(sum(value), 2) AS total_value
    FROM tagged
    WHERE day BETWEEN DATE '{AUDIT_LO}' AND DATE '{AUDIT_HI}'
    GROUP BY day
    """,
    doc="Dynamic partition overwrite (K8): events written day-partitioned, "
    f"then the {FIX_DAY} partition is RESTATED (values doubled) by writing "
    "only that day's corrected rows in overwrite mode with "
    "partitionOverwriteMode=dynamic — the writer replaces exactly the "
    "partitions present in the incoming frame and leaves all others' "
    "files untouched (verified: the readback aggregates the restated day "
    "against its unchanged neighbors). The restatement pattern for "
    "date-partitioned incremental tables; at 100 TB one directory swap "
    "per restated day instead of a table rewrite.",
)
def k8_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    path = scratch_path("events_dyn_overwrite", sf_dir)
    # day-keyed exchange: one file per day directory instead of one per
    # (task, day) — see k7_partitioned_write_prune (guide §6 small-files)
    ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(path)

    corrections = ev.filter(F.col("day") == FIX_DAY).withColumn(
        "value", F.col("value") * 2
    )
    (
        corrections.repartition("day")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )

    back = spark.read.parquet(path)
    return (
        back.filter(F.col("day").between(AUDIT_LO, AUDIT_HI))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


_SCRIPT = """
BEGIN
  DECLARE total BIGINT;
  DECLARE days INT DEFAULT 1;
  DECLARE acc BIGINT;
  SET total = (SELECT count(*) FROM events);
  -- do-while shape: evaluate the 1-day window first, then grow. This also
  -- matches the oracle's min-prefix fixpoint on an EMPTY table (both emit
  -- window_days = 1), where a zero-initialized while-loop would emit 0.
  SET acc = (SELECT count(*) FROM events
             WHERE to_date(ts) < date_add(DATE'2024-01-01', days));
  WHILE acc * 2 < total DO
    SET days = days + 1;
    SET acc = (SELECT count(*) FROM events
               WHERE to_date(ts) < date_add(DATE'2024-01-01', days));
  END WHILE;
  SELECT CAST(days AS BIGINT) AS window_days, acc AS n_events, total AS n_total;
END
"""


@register(
    "sql_scripting_backfill_window",
    oracle="""
    WITH tot AS (SELECT count(*)::BIGINT AS n_total FROM events),
    cum AS (
      SELECT i, (SELECT count(*) FROM events
                 WHERE CAST(ts AS DATE) < DATE '2024-01-01' + i::INT)::BIGINT AS acc
      FROM UNNEST(generate_series(1, 60)) AS u(i))
    SELECT i::BIGINT AS window_days, acc AS n_events, n_total
    FROM cum, tot WHERE acc * 2 >= n_total
    ORDER BY i LIMIT 1
    """,
    doc="Spark 4 SQL scripting (BEGIN/DECLARE/WHILE): an iterative "
    "backfill-window sizing loop — grow the day window until it covers "
    "half the event volume, each iteration a real aggregate over the "
    "table. The procedural-SQL surface (ANSI/PSM subset) the reference's "
    "run.py-style orchestration would use for in-warehouse control flow; "
    "the oracle derives the same fixpoint declaratively (min prefix whose "
    "cumulative count reaches half). Joins the WITH RECURSIVE / VARIANT / "
    "UDTF entries as the Spark 4 SQL-surface exhibits.",
)
def sql_scripting_backfill_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_tables

    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_tables(spark, sf_dir, ("events",), register_views=True)
    df = spark.sql(_SCRIPT)
    if prev is not None:
        spark.conf.set("spark.sql.scripting.enabled", prev)
    return df


# --- l-diversity audit ------------------------------------------------------
L_DIV = 3
BAL_BAND = 2000  # sensitive attribute: account balance band


@register(
    "privacy_l_diversity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           count(*)::BIGINT AS n_people,
           count(DISTINCT floor(c_acctbal / {BAL_BAND})::BIGINT)::BIGINT
             AS n_bands,
           count(DISTINCT floor(c_acctbal / {BAL_BAND})::BIGINT) >= {L_DIV}
             AS l_ok
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc=f"l-diversity audit (l={L_DIV}), the companion gate to "
    "privacy_k_anonymity: a k-anonymous equivalence class still leaks if "
    "everyone in it shares the sensitive value, so each quasi-identifier "
    "group (nation, segment) must contain >= l distinct sensitive values "
    f"(account-balance bands of {BAL_BAND}). One map-side-combined "
    "groupBy with a distinct-count — fact-scale scan, class-scale "
    "output. Run k-anonymity AND l-diversity before any user-derived "
    "table ships to training.",
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / BAL_BAND).cast("long")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("n_people"),
        F.count_distinct(band).cast("long").alias("n_bands"),
        (F.count_distinct(band) >= L_DIV).alias("l_ok"),
    )


# --- incremental corpus refresh capstone -----------------------------------


def _refresh_oracle() -> str:
    from .corpus6 import QC_STOPWORDS, QC_THRESHOLD, QC_W_NWORDS, QC_W_STOP
    from .extras4 import DELTA_MOD, _incremental_cte

    from ..operators import dedup as DD

    norm = DD.NORMALIZE_SQL.format(x="text")
    return (
        _incremental_cte()
        + f""",
    probe AS (
      SELECT d.doc_id, min(m.id_o) AS matched_id
      FROM (SELECT doc_id FROM documents WHERE doc_id % {DELTA_MOD} = 0) d
      LEFT JOIN matches m ON m.id_d = d.doc_id
      GROUP BY d.doc_id),
    feat AS (
      SELECT doc_id,
             {QC_W_NWORDS} * len(toks)
               + {QC_W_STOP} * ((1000 * len(list_filter(toks,
                   w -> w IN {QC_STOPWORDS}))) // len(toks))
               - ((1000 * (length(t) - (len(toks) - 1))) // len(toks)) AS logit
      FROM (SELECT doc_id, {norm} AS t, string_split({norm}, ' ') AS toks
            FROM documents WHERE doc_id % {DELTA_MOD} = 0)),
    hx AS (SELECT doc_id, md5({norm}) AS h FROM documents),
    ex AS (
      SELECT d.doc_id, min(o.doc_id) AS exact_match
      FROM hx d JOIN hx o ON o.h = d.h AND o.doc_id <> d.doc_id
       AND (o.doc_id % {DELTA_MOD} <> 0 OR o.doc_id < d.doc_id)
      WHERE d.doc_id % {DELTA_MOD} = 0
      GROUP BY d.doc_id),
    cls AS (
      SELECT f.doc_id,
             CASE WHEN f.logit < {QC_THRESHOLD} THEN 'quality_fail'
                  WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
                  WHEN p.matched_id IS NOT NULL THEN 'near_dup'
                  ELSE 'append' END AS act
      FROM feat f
      LEFT JOIN ex ON ex.doc_id = f.doc_id
      LEFT JOIN probe p ON p.doc_id = f.doc_id),
    nb AS (SELECT count(*)::BIGINT AS n_base FROM documents
           WHERE doc_id % {DELTA_MOD} <> 0)
    SELECT nb.n_base,
           count(*)::BIGINT AS n_delta,
           sum(CASE WHEN act = 'quality_fail' THEN 1 ELSE 0 END)::BIGINT
             AS n_quality_fail,
           sum(CASE WHEN act = 'exact_dup' THEN 1 ELSE 0 END)::BIGINT
             AS n_exact_dup,
           sum(CASE WHEN act = 'near_dup' THEN 1 ELSE 0 END)::BIGINT
             AS n_near_dup,
           sum(CASE WHEN act = 'append' THEN 1 ELSE 0 END)::BIGINT
             AS n_appended,
           (nb.n_base
             + sum(CASE WHEN act = 'append' THEN 1 ELSE 0 END))::BIGINT
             AS n_corpus_after
    FROM cls, nb GROUP BY nb.n_base
    """
    )


@register(
    "pipeline_corpus_refresh",
    oracle=_refresh_oracle(),
    doc="Incremental corpus-refresh capstone: the production loop for "
    "continuously growing training corpora. The delta shard (doc_id % 5) "
    "runs quality gating (text_quality_classifier's linear logit) -> "
    "exact dedup against base + earlier delta (one normalized-hash join) "
    "-> near-dup LSH probe of the ON-DISK (band, bkey)-bucketed bronze "
    "base index (extras4.incremental_probe_matches_bronze: the delta "
    "banding shuffles to the bucket spec ONCE, the index side is a "
    "bucketed scan with no Exchange above it — plan-locked) "
    "-> append survivors; one audited "
    "summary row (base size, delta size, per-stage drop counts, corpus "
    "size after). Every stage's work scales with the DELTA, never the "
    "accumulated corpus — the refresh invariant that matters at 100 TB. "
    "All counts integer and cross-checked against the composed CTE "
    "oracle.",
)
def pipeline_corpus_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD
    from .corpus6 import text_quality_classifier
    from .extras4 import DELTA_MOD, incremental_probe_matches_bronze

    d = load_table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == 0

    quality = (
        text_quality_classifier(spark, sf_dir)
        .filter(is_delta)
        .select("doc_id", F.col("keep").alias("q_ok"))
    )
    hx = d.select("doc_id", F.md5(DD.normalize_text("text")).alias("h"))
    dh = hx.filter(is_delta).select(F.col("doc_id").alias("id_d"), "h")
    ex = (
        dh.join(
            hx.select(F.col("doc_id").alias("id_o"), "h"),
            "h",
        )
        .filter(
            (F.col("id_o") != F.col("id_d"))
            & ((F.col("id_o") % DELTA_MOD != 0) | (F.col("id_o") < F.col("id_d")))
        )
        .groupBy(F.col("id_d").alias("doc_id"))
        .agg(F.min("id_o").alias("exact_match"))
    )
    probe = incremental_probe_matches_bronze(spark, sf_dir).select(
        "doc_id", F.col("matched_id").alias("near_match")
    )
    act = (
        F.when(~F.col("q_ok"), F.lit("quality_fail"))
        .when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_match").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("append"))
    )
    cls = (
        quality.join(F.broadcast(ex), "doc_id", "left")
        .join(F.broadcast(probe), "doc_id", "left")
        .select("doc_id", act.alias("act"))
    )
    n_base = d.filter(~is_delta).agg(F.count("*").cast("long").alias("n_base"))
    cnt = lambda a: F.sum((F.col("act") == a).cast("long")).alias(f"n_{a}")  # noqa: E731
    audit = cls.agg(
        F.count("*").cast("long").alias("n_delta"),
        cnt("quality_fail"),
        cnt("exact_dup"),
        cnt("near_dup"),
        F.sum((F.col("act") == "append").cast("long")).alias("n_appended"),
    )
    return n_base.crossJoin(F.broadcast(audit)).select(
        "n_base",
        "n_delta",
        "n_quality_fail",
        "n_exact_dup",
        "n_near_dup",
        "n_appended",
        (F.col("n_base") + F.col("n_appended")).cast("long").alias("n_corpus_after"),
    )


# --- contrastive pair-alignment diagnostic ---------------------------------
CA_DIM = 8
CA_BATCH = 16
CA_SCALE = 10_000


def _ca_text_emb_sql() -> str:
    from ..operators import dedup as DD

    norm = DD.NORMALIZE_SQL.format(x="text")
    dims = ", ".join(
        f"('0x' || substr(md5({norm}), {4 * d + 1}, 4))::BIGINT - 32768"
        for d in range(CA_DIM)
    )
    return f"[{dims}]"


@register(
    "multimodal_pair_alignment",
    oracle=f"""
    WITH pairs AS (
      SELECT d.doc_id,
             d.doc_id // {CA_BATCH} AS batch_id,
             {_ca_text_emb_sql()} AS te,
             list_transform(e.embedding[1:{CA_DIM}],
                            x -> floor(x::DOUBLE * {CA_SCALE} + 0.5)) AS ie
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
    scored AS (
      SELECT a.batch_id, a.doc_id AS i, b.doc_id AS j,
             round(list_dot_product(a.te::DOUBLE[], b.ie::DOUBLE[])
                   / sqrt(list_dot_product(a.te::DOUBLE[], a.te::DOUBLE[])
                          * list_dot_product(b.ie::DOUBLE[], b.ie::DOUBLE[])),
                   6) AS cos_sim
      FROM pairs a JOIN pairs b USING (batch_id)),
    diag AS (
      SELECT batch_id, i, cos_sim AS diag_cos FROM scored WHERE i = j),
    best AS (
      SELECT batch_id, i, max(cos_sim) AS off_max, count(*) AS n_others
      FROM scored WHERE i <> j GROUP BY batch_id, i)
    SELECT d.batch_id,
           count(*)::BIGINT AS n_pairs,
           sum(CASE WHEN b.n_others IS NULL OR d.diag_cos > b.off_max
                    THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           round(min(d.diag_cos), 6) AS min_diag_cos,
           round(max(d.diag_cos), 6) AS max_diag_cos
    FROM diag d LEFT JOIN best b ON b.batch_id = d.batch_id AND b.i = d.i
    GROUP BY d.batch_id
    """,
    doc="CLIP-shape in-batch contrastive alignment diagnostic: each "
    "document (text side, md5-slice integer embedding) pairs with its "
    f"embeddings-table row (image side, first {CA_DIM} dims integer-"
    f"quantized); within {CA_BATCH}-pair batches the full BxB similarity "
    "matrix is scored and a pair counts correct when its diagonal "
    "similarity STRICTLY beats every in-batch negative — the retrieval "
    "accuracy a multimodal training pipeline tracks per shard before "
    "contrastive training. The cross join is bounded per batch (BxB, "
    "never corpus-wide); min/max diagonal stats are order-independent, "
    "so every value hash-checks cross-engine.",
)
def multimodal_pair_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    h = F.md5(DD.normalize_text("text"))
    te = F.array(
        *[
            (F.conv(F.substring(h, 4 * k + 1, 4), 16, 10).cast("long") - 32768)
            for k in range(CA_DIM)
        ]
    )
    ie = F.transform(
        F.slice("embedding", 1, CA_DIM),
        lambda x: F.floor(x.cast("double") * CA_SCALE + 0.5).cast("long"),
    )
    pairs = (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            (F.col("doc_id") / CA_BATCH).cast("long").alias("batch_id"),
            te.alias("te"),
            ie.alias("ie"),
        )
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    a, b = pairs.alias("a"), pairs.alias("b")
    scored = a.join(b, F.col("a.batch_id") == F.col("b.batch_id")).select(
        F.col("a.batch_id").alias("batch_id"),
        F.col("a.doc_id").alias("i"),
        F.col("b.doc_id").alias("j"),
        F.round(
            dot(F.col("a.te"), F.col("b.ie")).cast("double")
            / F.sqrt(
                dot(F.col("a.te"), F.col("a.te")).cast("double")
                * dot(F.col("b.ie"), F.col("b.ie")).cast("double")
            ),
            6,
        ).alias("cos_sim"),
    )
    diag = scored.filter(F.col("i") == F.col("j")).select(
        "batch_id", "i", F.col("cos_sim").alias("diag_cos")
    )
    best = (
        scored.filter(F.col("i") != F.col("j"))
        .groupBy("batch_id", "i")
        .agg(F.max("cos_sim").alias("off_max"))
    )
    joined = diag.join(best, ["batch_id", "i"], "left")
    return joined.groupBy("batch_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(
            (
                F.col("off_max").isNull() | (F.col("diag_cos") > F.col("off_max"))
            ).cast("long")
        ).alias("n_correct"),
        F.round(F.min("diag_cos"), 6).alias("min_diag_cos"),
        F.round(F.max("diag_cos"), 6).alias("max_diag_cos"),
    )


# --- file-level ingest robustness (registered here so the new query
# queues BEHIND older never-driver-checked ones in the verification
# rotation; see queries/__init__.py) ---------------------------------------


@register(
    "s3c_corrupt_parquet_tolerance",
    oracle="""
    SELECT count(*)::BIGINT AS n_rows,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    """,
    doc="ignoreCorruptFiles ingest: a parquet directory where one file is "
    "garbage bytes (a truncated upload / failed task leftover) scans "
    "without failing — the corrupt file is skipped, every intact file's "
    "rows survive. The file-level complement to s3b's record-level "
    "PERMISSIVE quarantine; at 100 TB a multi-million-file table WILL "
    "contain a bad object eventually, and one of them must not kill a "
    "full-table pass.",
)
def s3c_corrupt_parquet_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    feed = scratch_path("corrupt_pq", sf_dir)
    docs.write.mode("overwrite").parquet(feed)
    # drop a non-parquet garbage object into the directory, as a failed
    # multipart upload or torn task output would
    with open(os.path.join(feed, "part-99999-garbage.parquet"), "wb") as f:
        f.write(b"\x00\x01this is not a parquet file\x02\x03" * 64)

    back = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema("doc_id long, n_chars long")
        .parquet(feed)
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "s19_file_metadata_audit",
    oracle="""
    SELECT source, count(*)::BIGINT AS n_rows, count(*)::BIGINT AS n_from_file
    FROM documents GROUP BY source
    """,
    doc="Hidden _metadata column audit: the documents table staged as one "
    "file per source directory, read back with the file source's hidden "
    "_metadata struct — every row reports its physical file, and "
    "per-source row counts recomputed FROM the file paths must equal the "
    "logical counts (n_rows = n_from_file per source). The ingest-audit "
    "pattern (which file did this row come from?) without writing audit "
    "columns into the data; at 100 TB the _metadata projection is "
    "file-source metadata, no extra scan cost.",
)
def s19_file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = scratch_path("meta_audit", sf_dir)
    d.repartition("source").write.mode("overwrite").partitionBy("source").parquet(path)
    back = spark.read.parquet(path).select(
        "doc_id", "source", F.col("_metadata.file_path").alias("fp")
    )
    return back.groupBy("source").agg(
        F.count("*").cast("long").alias("n_rows"),
        # recount via the physical path: the partition directory embedded in
        # _metadata.file_path must agree with the logical source column
        F.sum(
            # Hive path-escapes partition values (%, =, : ...) — decode the
            # directory text before comparing with the logical column
            F.url_decode(F.regexp_extract("fp", r"source=([^/]+)/", 1))
            .eqNullSafe(F.col("source"))
            .cast("long")
        ).alias("n_from_file"),
    )


@register(
    "j14_point_in_time_join",
    oracle="""
    WITH hist AS (
      SELECT o_custkey, o_orderpriority,
             o_orderdate AS valid_from,
             lead(o_orderdate) OVER w AS valid_to
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    facts AS (
      SELECT o.o_custkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT h.o_orderpriority, count(*)::BIGINT AS n_items
    FROM facts f
    JOIN hist h ON h.o_custkey = f.o_custkey
     AND f.l_shipdate >= h.valid_from
     AND (h.valid_to IS NULL OR f.l_shipdate < h.valid_to)
    GROUP BY h.o_orderpriority
    """,
    doc="Point-in-time (PIT) join against an SCD2 dimension: each shipment "
    "matches the customer's order-priority VERSION that was current on its "
    "ship date ([valid_from, valid_to) interval, open-ended current row) — "
    "the canonical as-of-history lookup a warehouse runs against "
    "scd2_order_history's output. Executes as an EQUI join on the "
    "customer key with the interval as a residual predicate, so at 100 TB "
    "it is one key-partitioned shuffle join — never a range cross "
    "product; version intervals are disjoint per key, so each fact "
    "matches at most once (inner join: ship dates can never precede the "
    "customer's first version).",
)
def j14_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import scd2_history

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    hist = scd2_history(
        o, "o_custkey", "o_orderdate", attrs=["o_orderpriority"],
        tiebreak=["o_orderkey"],
    ).select(
        "o_custkey", "o_orderpriority", "valid_from", "valid_to"
    )
    facts = li.join(
        o.select("o_orderkey", "o_custkey"), li["l_orderkey"] == o["o_orderkey"]
    ).select("o_custkey", "l_shipdate")
    pit = facts.join(
        hist,
        (facts["o_custkey"] == hist["o_custkey"])
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("l_shipdate") < F.col("valid_to"))),
    )
    return pit.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items")
    )


@register(
    "layout_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           count(*)::BIGINT AS n_items,
           CAST(sum(l.l_quantity) AS BIGINT) AS total_qty
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Bucketed-table co-located join, end-to-end: orders and lineitem "
    "written bucketBy(8, orderkey) + sortBy, then joined with broadcast "
    "disabled — the bucketed layout makes the join ZERO-shuffle (asserted "
    "plan-level in tests/test_storage_layout.py; this entry value-checks "
    "the result through the same path). The pre-shuffled storage layout "
    "that turns the 100 TB fact-to-fact join from the dominant shuffle "
    "into a local merge per bucket; both sides must agree on bucket count "
    "and key.",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    # pid-suffixed names + dead-pid reap: concurrent processes never
    # overwrite each other's warehouse files (ADVICE r4), and a killed
    # process's leftovers are swept on the next run
    reap_warehouse(spark)
    t_o, t_l = table_name(f"bq_orders_{tag}"), table_name(f"bq_lineitem_{tag}")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sql(f"DROP TABLE IF EXISTS {t_o}")
    spark.sql(f"DROP TABLE IF EXISTS {t_l}")
    try:
        (
            o.select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(t_o)
        )
        (
            li.select("l_orderkey", "l_quantity")
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(t_l)
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = (
            spark.table(t_l)
            .join(spark.table(t_o), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("long").alias("n_items"),
                F.sum("l_quantity").cast("long").alias("total_qty"),
            )
        )
        # force execution while the tables exist, then hand back a frame
        # over the collected (priority-cardinality) result
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_l}")


# --- small-file compaction, executed ---------------------------------------
FRAG_FILES = 64
COMPACT_TARGET_CHARS = 131_072  # ~128 KiB of text per output file


@register(
    "layout_compaction_execute",
    oracle=f"""
    SELECT {FRAG_FILES}::BIGINT AS n_files_before,
           CAST(ceil(sum(n_chars) / {COMPACT_TARGET_CHARS}.0) AS BIGINT)
             AS n_files_after,
           count(*)::BIGINT AS n_rows,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    """,
    doc="Small-file compaction EXECUTED (the OPTIMIZE rewrite that "
    "layout_compaction_bins plans): the table is staged fragmented "
    f"({FRAG_FILES} small files — the steady state of frequent small "
    "incremental appends), then rewritten into ceil(total_chars / "
    f"{COMPACT_TARGET_CHARS}) right-sized files. BOTH file counts are "
    "measured from the filesystem after each write, so the oracle check "
    "proves the rewrite actually produced the planned layout and "
    "preserved every row. At 100 TB this runs per partition on the "
    "planner's bins; the rewrite cost is one read+write of just the "
    "fragmented partitions.",
)
def layout_compaction_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = scratch_path("compact", sf_dir)
    frag, compacted = base + "_frag", base + "_out"
    d.repartition(FRAG_FILES).write.mode("overwrite").parquet(frag)

    def n_part_files(p: str) -> int:
        return sum(1 for f in os.listdir(p) if f.startswith("part-"))

    back = spark.read.parquet(frag)
    # deliberate mid-build action: sizing the rewrite IS the planner step of
    # a compaction job (unlike a lazy transform, OPTIMIZE is inherently
    # two-phase — measure, then rewrite); at scale this reads the file
    # listing's metadata, not the data
    total_chars = back.agg(F.sum("n_chars")).first()[0]
    n_bins = -(-int(total_chars) // COMPACT_TARGET_CHARS)
    back.repartition(n_bins).write.mode("overwrite").parquet(compacted)

    out = spark.read.parquet(compacted)
    stats = out.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return stats.select(
        F.lit(n_part_files(frag)).cast("long").alias("n_files_before"),
        F.lit(n_part_files(compacted)).cast("long").alias("n_files_after"),
        "n_rows",
        "total_chars",
    )


# --- experiment-analysis statistics ----------------------------------------


@register(
    "stats_ab_proportion_z",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       >= 10 THEN 1 ELSE 0 END AS converted,
             user_id % 2 AS grp
      FROM events GROUP BY user_id),
    g AS (
      SELECT grp, count(*)::BIGINT AS n, sum(converted)::BIGINT AS conv
      FROM assign GROUP BY grp),
    w AS (
      SELECT max(CASE WHEN grp = 0 THEN n END) AS n_a,
             max(CASE WHEN grp = 0 THEN conv END) AS conv_a,
             max(CASE WHEN grp = 1 THEN n END) AS n_b,
             max(CASE WHEN grp = 1 THEN conv END) AS conv_b
      FROM g)
    SELECT n_a, conv_a, n_b, conv_b,
           round(conv_a / n_a::DOUBLE, 6) AS rate_a,
           round(conv_b / n_b::DOUBLE, 6) AS rate_b,
           round(
             (conv_a / n_a::DOUBLE - conv_b / n_b::DOUBLE)
             / sqrt(((conv_a + conv_b) / (n_a + n_b)::DOUBLE)
                    * (1 - (conv_a + conv_b) / (n_a + n_b)::DOUBLE)
                    * (1.0 / n_a + 1.0 / n_b)),
             6) AS z_stat
    FROM w
    """,
    doc="A/B experiment readout: users split by id parity, per-user "
    "conversion = >= 10 purchase events (a non-saturating metric: any-purchase converts ~every user at this event density, degenerating the pooled variance to zero), pooled two-proportion z-statistic "
    "computed in-plan (identical float op sequence both engines, round "
    "6). One user-level aggregate + one 2-row group aggregate — the "
    "experiment-analysis query every event pipeline serves; at 100 TB the "
    "user rollup is the only fact-scale shuffle.",
)
def stats_ab_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 10
        ).cast("int").alias("converted"),
        (F.first("user_id") % 2).alias("grp"),
    )
    g = assign.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("conv_b"),
    )
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    pooled = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b")).cast(
        "double"
    )
    return w.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        F.round(
            (ca / na - cb / nb)
            / F.sqrt(pooled * (1 - pooled) * (F.lit(1.0) / na + F.lit(1.0) / nb)),
            6,
        ).alias("z_stat"),
    )


@register(
    "stats_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type, user_id % 4 AS bucket, count(*)::BIGINT AS o
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, bucket, o,
             sum(o) OVER (PARTITION BY event_type) AS row_t,
             sum(o) OVER (PARTITION BY bucket) AS col_t,
             sum(o) OVER () AS n
      FROM obs)
    SELECT count(*)::BIGINT AS n_cells,
           round(sum((o - row_t * col_t / n::DOUBLE)
                     * (o - row_t * col_t / n::DOUBLE)
                     / (row_t * col_t / n::DOUBLE)) / count(*) * count(*), 4)
             AS chi2
    FROM tot
    """,
    doc="Chi-square independence statistic over the event_type x "
    "user-bucket contingency table: observed vs expected (row_total x "
    "col_total / N) cell deviations — the feature/segment independence "
    "screen for experiment and drift analysis. The contingency table is "
    "one map-combined groupBy; everything after runs on the cell-count "
    "relation (metadata-sized), and all arithmetic is the same float op "
    "sequence in both engines (round 4).",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.col("user_id") % 4).alias("bucket")
    ).agg(F.count("*").cast("long").alias("o"))
    tot = obs.select(
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("row_t"),
        F.sum("o").over(W.partitionBy("bucket")).alias("col_t"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    exp = F.col("row_t") * F.col("col_t") / F.col("n").cast("double")
    dev = (F.col("o") - exp) * (F.col("o") - exp) / exp
    return tot.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum(dev), 4).alias("chi2"),
    )


@register(
    "s8_rest_single_shot",
    oracle="SELECT n_nationkey AS id, n_name AS name FROM nation",
    doc="S8 single-shot REST source through the REAL adapter path "
    "(sources/rest.rest_to_dataframe): an injected offline transport "
    "serves the nation dim as the JSON payload a requests.get().json() "
    "call would return (the reference's fetch_sharepoint_users / "
    "fetch_yandex_token shape — auth'd GET, dim-sized body, driver-side "
    "parse). The adapter's pagination, schema application, and "
    "createDataFrame plumbing are exactly what a live endpoint exercises; "
    "only the socket is stubbed, so the driver gate value-checks the "
    "whole S8 path that unit tests previously covered alone.",
)
def s8_rest_single_shot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.rest import rest_to_dataframe

    # offline transport: the dim-sized JSON body a single-shot authed GET
    # returns — read driver-side exactly like the reference's .json() parse
    body = [
        {"id": r.n_nationkey, "name": r.n_name}
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .collect()
    ]

    def fetch(offset: int, limit: int) -> list[dict]:
        return body[offset : offset + limit]

    return rest_to_dataframe(spark, fetch, "id long, name string")


@register(
    "s9_sheets_scan",
    oracle="""
    SELECT r_regionkey AS region_key, trim(r_name) AS region_name
    FROM region
    """,
    doc="S9 Google-Sheets scan through the REAL adapter path "
    "(sources/sheets.sheet_to_dataframe): an injected get_all_values "
    "serves the region dim as raw sheet cells — header row, a RAGGED "
    "short row (P14 padding), CRLF-polluted cells (F8 cleaning), and a "
    "header needing sanitation (F10) — exactly the gspread "
    "get_all_values() shape the reference consumes "
    "(create_gitlab_dataset.ipynb). Only the API client is stubbed; "
    "padding, cleaning, and header handling are the live code, so the "
    "driver gate value-checks the whole S9 parse.",
)
def s9_sheets_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.sheets import sheet_to_dataframe

    rows = (
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
        .collect()
    )
    # raw sheet payload: BOM/whitespace-dirty header (F10 sanitation strips
    # exactly that — it does not rename), CRLF in cells, last row ragged
    values = [["\ufeffregion_key ", " region_name"]] + [
        [str(r.r_regionkey), r.r_name + "\r\n"] for r in rows
    ]
    values[-1] = values[-1][:1]  # ragged: drop the last row's name cell

    df = sheet_to_dataframe(spark, lambda: values)
    key = F.col("region_key").cast("long").alias("region_key")
    # the ragged row parsed as '' name; restore it from the key join so the
    # oracle compares the REAL dim values (the pad itself is asserted in
    # tests; here it must flow through without erroring)
    dim = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("region_key"),
        F.trim("r_name").alias("dim_name"),
    )
    return (
        df.select(key, F.trim("region_name").alias("region_name"))
        .join(F.broadcast(dim), "region_key")
        .select(
            "region_key",
            F.when(F.col("region_name") == "", F.col("dim_name"))
            .otherwise(F.col("region_name"))
            .alias("region_name"),
        )
    )


@register(
    "k6_sheet_upsert",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer WHERE c_custkey % 3 <> 0
    ORDER BY c_custkey
    """,
    doc="K6 Sheets anti-join upsert through the REAL sink path "
    "(sinks/incremental.sheet_append_missing): the 'sheet' already holds "
    "every c_custkey % 3 == 0 customer; the full customer frame is "
    "upserted and exactly the novel keys append (distributed anti-join, "
    "driver-side append_row per novel row — gspread USER_ENTERED "
    "semantics, create_gitlab_dataset.ipynb:96-123). The stubbed "
    "append_row records what a live client would send; the recorded "
    "appends ARE the query output, so the driver gate value-checks the "
    "whole K6 path.",
)
def k6_sheet_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.incremental import sheet_append_missing

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    existing = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey")
    appended: list[list] = []
    n = sheet_append_missing(c, existing, "c_custkey", appended.append)
    assert n == len(appended)
    return spark.createDataFrame(
        [tuple(r) for r in appended], "c_custkey long, c_mktsegment string"
    )


# --- live JDBC round-trip (embedded Derby — ships with Spark) ---------------
_DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
# databases this process has already booted: embedded Derby keeps a booted
# database open for the JVM lifetime, so deleting its files out from under
# it is the one unsafe op — clear a stale directory only BEFORE first boot,
# and rely on overwrite-mode table replacement afterwards
_DERBY_BOOTED: set[str] = set()


def _derby_fresh(db: str) -> str:
    import shutil

    if db not in _DERBY_BOOTED:
        shutil.rmtree(db, ignore_errors=True)
        _DERBY_BOOTED.add(db)
    return f"jdbc:derby:{db};create=true"


@register(
    "s4_jdbc_roundtrip",
    oracle="""
    SELECT count(*)::BIGINT AS n_rows,
           sum(CAST(round(s_acctbal * 100) AS BIGINT))::BIGINT AS bal_cents,
           max(s_suppkey)::BIGINT AS max_key
    FROM supplier
    """,
    doc="S4/S5/K5 against a LIVE database in-plan: the supplier dim is "
    "full-refreshed into embedded Derby (ships with Spark for the Hive "
    "metastore, so it exists in ANY driver session), re-appended through "
    "the incremental high-watermark sink (which must add ZERO rows — the "
    "idempotency contract), then pulled back via the real jdbc_scan "
    "source and aggregated. A wrong watermark pushdown would double the "
    "counts; a broken scan would miss rows — both value-checked. The "
    "same adapters run against Postgres/MySQL in production "
    "(fetch_pluginsdb_plugin.py / fetch_asterisk_cdr.py shapes); Derby "
    "only replaces the socket.",
)
def s4_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.incremental import jdbc_incremental_append
    from ..sources.jdbc import jdbc_scan

    db = scratch_path("derby", sf_dir)
    url = _derby_fresh(db)
    props = {"driver": _DERBY_DRIVER}

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    sup.write.mode("overwrite").option("driver", _DERBY_DRIVER).jdbc(url, "sup")
    # idempotent re-append: watermark pushdown keeps every existing row out
    jdbc_incremental_append(spark, sup, url, "sup", "s_suppkey", props)

    back = jdbc_scan(spark, url, "sup", props)
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
        F.max("s_suppkey").cast("long").alias("max_key"),
    )


@register(
    "s6_jdbc_parallel_pull",
    oracle="""
    SELECT (s_suppkey % 4)::BIGINT AS part,
           count(*)::BIGINT AS n_rows,
           sum(CAST(round(s_acctbal * 100) AS BIGINT))::BIGINT AS bal_cents
    FROM supplier GROUP BY 1
    """,
    doc="S6 parallel JDBC pull against live embedded Derby: the supplier "
    "table is read back with partitionColumn/numPartitions=4, so Spark "
    "issues four concurrent range queries (the COPY-replacement shape for "
    "bulk export — fetch_pluginsdb_plugin.py's loop at scale); the "
    "readback is grouped by the partition expression so a dropped or "
    "doubled range shows up as a wrong group. Derby replaces only the "
    "socket; against Postgres this is the same adapter verbatim.",
)
def s6_jdbc_parallel_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.jdbc import jdbc_scan

    db = scratch_path("derby6", sf_dir)
    url = _derby_fresh(db)
    props = {"driver": _DERBY_DRIVER}

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    sup.write.mode("overwrite").option("driver", _DERBY_DRIVER).jdbc(url, "sup")
    hi = sup.agg(F.max("s_suppkey")).first()[0]
    back = jdbc_scan(
        spark, url, "sup", props,
        partition_column="s_suppkey", num_partitions=4,
        lower_bound=1, upper_bound=int(hi) + 1,
    )
    return back.groupBy((F.col("s_suppkey") % 4).alias("part")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("bal_cents").cast("long").alias("bal_cents"),
    )


# --- incremental top-k maintenance (EDBT 2020 shape) ------------------------
ANN_DELTA_MOD = 7


@register(
    "ann_incremental_topk_merge",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id IN (0, 1, 2, 3, 4)),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.qv::DOUBLE[], e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 10
    """,
    doc="Incremental top-k maintenance (the interactive-session shape of "
    "EDBT 2020's incremental top-k similarity search): when a DELTA of "
    f"new index vectors arrives (vec_id % {ANN_DELTA_MOD} == 0), each "
    "query's stored top-k is updated by scoring ONLY queries x delta and "
    "re-ranking the union of the prior top-k with the delta top-k — "
    "global-top-k ⊆ base-top-k ∪ delta-top-k, so the merge is exact "
    "without rescanning the accumulated index. The oracle IS the full "
    "recompute over base+delta: equality is the monotone-merge theorem. "
    "Per-refresh cost scales with the delta, like dedup_incremental_probe "
    "and pipeline_corpus_refresh.",
)
def ann_incremental_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.similarity import brute_force_topk
    from .similarity import K, QUERY_IDS

    emb = load_table(spark, sf_dir, "embeddings")
    is_delta = (F.col("vec_id") % ANN_DELTA_MOD == 0) & (
        ~F.col("vec_id").isin(QUERY_IDS)
    )
    prior = brute_force_topk(emb.filter(~is_delta), QUERY_IDS, K)
    delta_top = brute_force_topk(
        emb.filter(is_delta | F.col("vec_id").isin(QUERY_IDS)), QUERY_IDS, K
    )
    # fellow QUERY vectors are candidates in BOTH frames — dedup the union
    # or a shared neighbor would rank twice and push out the true k-th
    merged = (
        prior.drop("rank")
        .unionByName(delta_top.drop("rank"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
    )


# --- ML inference in pure SQL (ICDE 2025 operator-fusion shape) -------------


@register(
    "ml_tree_inference_sql",
    oracle="""
    WITH pred AS (
      SELECT c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN
                    CASE WHEN c_nationkey < 12 THEN 'churn_risk'
                         ELSE 'collect' END
                  WHEN c_acctbal < 5000 THEN
                    CASE WHEN c_mktsegment IN ('AUTOMOBILE', 'MACHINERY')
                         THEN 'upsell' ELSE 'hold' END
                  ELSE
                    CASE WHEN c_nationkey < 12 THEN 'vip' ELSE 'retain' END
             END AS leaf
      FROM customer)
    SELECT c_mktsegment, leaf, count(*)::BIGINT AS n
    FROM pred GROUP BY c_mktsegment, leaf
    """,
    doc="ML inference as pure relational expressions (the ICDE 2025 "
    "'inference pipeline in pure SQL via operator fusion' shape): a "
    "depth-2 decision tree over customer features compiled to one nested "
    "CASE projection — no UDF, no model server; the whole model fuses "
    "into whole-stage codegen and runs at scan speed, the same argument "
    "as text_quality_classifier's linear logit. Trained weights/splits "
    "swap in as constants without changing the plan.",
)
def ml_tree_inference_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    leaf = (
        F.when(
            F.col("c_acctbal") < 0,
            F.when(F.col("c_nationkey") < 12, F.lit("churn_risk")).otherwise(
                F.lit("collect")
            ),
        )
        .when(
            F.col("c_acctbal") < 5000,
            F.when(
                F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"),
                F.lit("upsell"),
            ).otherwise(F.lit("hold")),
        )
        .otherwise(
            F.when(F.col("c_nationkey") < 12, F.lit("vip")).otherwise(F.lit("retain"))
        )
    )
    return (
        c.select("c_mktsegment", leaf.alias("leaf"))
        .groupBy("c_mktsegment", "leaf")
        .agg(F.count("*").cast("long").alias("n"))
    )


# --- trajectory similarity top-k (REPOSE ICDE 2021 shape) -------------------
TRAJ_QMOD = 50
TRAJ_K = 5
TRAJ_N = 3  # event-type n-gram length


def _traj_oracle() -> str:
    from ..operators import dedup as DD

    norm = DD.NORMALIZE_SQL.format(x="seq")
    return f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id),
    tok AS (SELECT user_id, string_split({norm}, ' ') AS toks FROM seqs),
    sh AS (
      SELECT DISTINCT user_id,
             array_to_string(list_slice(toks, i, i + {TRAJ_N - 1}), ' ') AS sh
      FROM tok,
           UNNEST(generate_series(1, greatest(len(toks) - {TRAJ_N - 1}, 0))) AS u(i)),
    sizes AS (SELECT user_id, count(*) AS n_sh FROM sh GROUP BY user_id),
    inter AS (
      SELECT a.user_id AS id_q, b.user_id AS id_o, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.user_id <> b.user_id
      WHERE a.user_id % {TRAJ_QMOD} = 0
      GROUP BY 1, 2),
    scored AS (
      SELECT id_q, id_o,
             round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.user_id = id_q
      JOIN sizes sb ON sb.user_id = id_o)
    SELECT id_q, id_o, jaccard, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY id_q ORDER BY jaccard DESC, id_o) AS rank
      FROM scored)
    WHERE rank <= {TRAJ_K}
    """


@register(
    "traj_user_similarity_topk",
    oracle=_traj_oracle(),
    doc="Trajectory similarity top-k (the distributed top-k trajectory "
    "search shape of REPOSE, ICDE 2021): each user's chronologically "
    f"ordered event-type sequence, {TRAJ_N}-gram shingled; query users "
    f"(id % {TRAJ_QMOD}) rank all other users by sequence Jaccard and "
    f"keep the top-{TRAJ_K}. Candidates come from the shingle EQUALITY "
    "join — only trajectory pairs sharing an n-gram are scored (the "
    "collision-pruning role REPOSE's reference-point tries play), never "
    "an all-pairs product; one sequence aggregate + one shingle join + "
    "one ranking window.",
)
def traj_user_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators import dedup as DD

    e = load_table(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            " ",
        ).alias("seq")
    )
    sh = DD.shingle_sets(seqs, "seq", "user_id", TRAJ_N)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    q = sh.filter(F.col("id") % TRAJ_QMOD == 0).select(
        F.col("id").alias("id_q"), "sh"
    )
    inter = (
        q.join(sh.select(F.col("id").alias("id_o"), "sh"), "sh")
        .filter(F.col("id_o") != F.col("id_q"))
        .groupBy("id_q", "id_o")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(sizes.select(F.col("id").alias("id_q"), F.col("n_sh").alias("na")), "id_q")
        .join(sizes.select(F.col("id").alias("id_o"), F.col("n_sh").alias("nb")), "id_o")
        .select(
            "id_q",
            "id_o",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
    )
    w = W.partitionBy("id_q").orderBy(F.desc("jaccard"), F.asc("id_o"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TRAJ_K)
        .select("id_q", "id_o", "jaccard", "rank")
    )


@register(
    "catalog_analyze_stats",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           round(min(o_custkey)::DOUBLE, 2) AS min_val,
           round(max(o_custkey)::DOUBLE, 2) AS max_val,
           count(*) - count(o_custkey) AS n_nulls,
           count(*)::BIGINT AS n_rows
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           round(min(o_totalprice)::DOUBLE, 2),
           round(max(o_totalprice)::DOUBLE, 2),
           count(*) - count(o_totalprice),
           count(*)::BIGINT
    FROM orders
    """,
    doc="ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, value-checked: "
    "the min/max/null-count/row-count the catalog records must equal the "
    "exact aggregates DuckDB computes over the same data. Stats collection "
    "is the ONE extra pass that buys the cost-based optimizer its join "
    "reordering and broadcast decisions at 100 TB (sizeInBytes/rowCount "
    "from metadata instead of file-size guesses); the table-level rowCount "
    "feeding CBO is asserted via the optimized plan's stats in "
    "tests/test_plans.py. Reference analog: the notebooks re-create sink "
    "tables each run (create_scripts_dataset.ipynb:261-279) but never "
    "record statistics — at scale that leaves every downstream join "
    "un-costed.",
)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    reap_warehouse(spark)
    t = table_name(f"stats_orders_{tag}")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        o.write.mode("overwrite").saveAsTable(t)
        spark.sql(
            f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR COLUMNS o_custkey, o_totalprice"
        )
        n_rows = int(
            spark.sql(f"DESCRIBE EXTENDED {t}")
            .filter(F.col("col_name") == "Statistics")
            .collect()[0]["data_type"]
            .split(",")[1]
            .strip()
            .split(" ")[0]
        )
        rows = []
        for col in ("o_custkey", "o_totalprice"):
            info = {
                r["info_name"]: r["info_value"]
                for r in spark.sql(f"DESCRIBE EXTENDED {t} {col}").collect()
            }
            rows.append(
                (
                    col,
                    round(float(info["min"]), 2),
                    round(float(info["max"]), 2),
                    int(info["num_nulls"]),
                    n_rows,
                )
            )
        return spark.createDataFrame(
            rows, "col_name string, min_val double, max_val double, n_nulls long, n_rows long"
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@register(
    "federated_three_source_join",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_items,
           sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS price_cents
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_regionkey = 0
    GROUP BY n.n_name
    """,
    doc="Direct federation — the architectural claim behind dropping the "
    "reference's file landing zone (SURVEY §3.1: extractors serialize "
    "Postgres/MySQL/Sheets into raw_data/*.csv ONLY because pandas cannot "
    "join across live sources): ONE plan joins a parquet fact (lineitem), "
    "a CSV dim staged with header+schema (supplier, the S1 read path), "
    "and a LIVE JDBC dim (nation in embedded Derby) with the region "
    "predicate pushed INTO the database scan (PushedFilters on the JDBC "
    "relation — asserted in tests/test_plans.py). Both dims broadcast; "
    "the fact never shuffles before the aggregate. At 100 TB the landing "
    "zone becomes an optional bronze CACHE, not a correctness "
    "prerequisite: sources federate in-plan and each one is read with "
    "its own pushdown.",
)
def federated_three_source_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")  # parquet fact

    # CSV dim (S1 path: header, enforced schema)
    csv_path = scratch_path("fed_supplier", sf_dir)
    load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).write.mode("overwrite").option("header", True).csv(csv_path)
    sup = spark.read.option("header", True).schema(
        "s_suppkey long, s_nationkey int"
    ).csv(csv_path)

    # live JDBC dim
    db = scratch_path("fed_derby", sf_dir)
    url = _derby_fresh(db)
    load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
        "driver", _DERBY_DRIVER
    ).jdbc(url, "nation_dim")
    nat = (
        spark.read.option("driver", _DERBY_DRIVER)
        .jdbc(url, "nation_dim", properties={"driver": _DERBY_DRIVER})
        .filter(F.col("n_regionkey") == 0)  # pushed into the Derby scan
    )

    return (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("price_cents"),
        )
    )

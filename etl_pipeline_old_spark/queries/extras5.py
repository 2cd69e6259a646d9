"""Scale-governance operators, wave 5: min/max file-stats pruning (the
data-skipping decision that makes layout choice matter at 100 TB),
a k-anonymity audit with one generalization step (privacy gate for
training-data release), a count-min sketch with point-query estimates
(mergeable heavy-hitter serving, the CM companion to the HLL entry), and
deterministic hash-weighted mixture sampling (the execution step behind
``corpus_mix_weights``-style language rebalancing).

Everything is pure relational built-ins — one shuffle per aggregate, no
Python in any hot path — and every entry is value-oracle-checked against
DuckDB (the md5-prefix integer hash is bit-identical cross-engine, see
``operators/dedup.md5_long``). Reference provenance: the reference
pipeline has none of these (its notebooks stop at pandas groupbys, e.g.
/root/reference/datasets/create_scripts_dataset.ipynb aggregate cells);
they extend SURVEY.md §2's LLM-pipeline family the way the corpus/dedup
waves do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..workdir import run_dir
from ..catalog import load_table
from ..operators.dedup import MD5_LONG_SQL, md5_long
from ..registry import register

# data-skipping predicate: one second-half-of-1996 scan window
PRUNE_LO, PRUNE_HI = "1996-07-01", "1996-12-31"
N_HASH_FILES = 16

K_ANON = 8

CMS_ROWS = 4
CMS_WIDTH = 64
CMS_TOPN = 10
CMS_USER_MOD = 97

# per-language keep probability, in 1/10000ths (integer thresholds so the
# keep decision is exact in both engines): downsample the dominant 'en',
# keep the rarest streams nearly whole — the corpus_mix_weights shape,
# executed.
MIX_KEEP_PM = {"en": 3500, "de": 8000, "es": 9000, "fr": 10000, "zh": 7000}
MIX_DEFAULT_PM = 5000


@register(
    "layout_minmax_prune",
    oracle=f"""
    WITH tagged AS (
      SELECT 'hash' AS layout, o_orderkey % {N_HASH_FILES} AS file_id, o_orderdate
      FROM orders
      UNION ALL
      SELECT 'date' AS layout,
             (year(o_orderdate) - 1995) * 2
               + CASE WHEN month(o_orderdate) >= 7 THEN 1 ELSE 0 END AS file_id,
             o_orderdate
      FROM orders)
    SELECT layout, file_id, count(*)::BIGINT AS n_rows,
           strftime(min(o_orderdate), '%Y-%m-%d') AS min_day,
           strftime(max(o_orderdate), '%Y-%m-%d') AS max_day,
           (max(o_orderdate) < TIMESTAMP '{PRUNE_LO}'
             OR min(o_orderdate) > TIMESTAMP '{PRUNE_HI}') AS can_skip
    FROM tagged GROUP BY layout, file_id
    """,
    doc="Min/max file-stats manifest + data-skipping decision (the "
    "Delta/Iceberg/parquet-footer pruning algebra) under two write "
    "layouts of the same table: 'hash' (arrival-order bucketing — every "
    "file spans the full date range, nothing prunes) vs 'date' "
    "(sort-on-write by half-year — every file outside the predicate "
    "window prunes away). One unionByName + one groupBy = one shuffle; "
    "the manifest is metadata-sized. This is WHY zorder_zvalue / "
    "k7_partitioned_write_prune matter at 100 TB: the skip column is the "
    "scan-cost model, computed here explicitly so the layouts are "
    "comparable in-plan.",
)
def layout_minmax_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    hash_files = o.select(
        F.lit("hash").alias("layout"),
        (F.col("o_orderkey") % N_HASH_FILES).alias("file_id"),
        "o_orderdate",
    )
    date_files = o.select(
        F.lit("date").alias("layout"),
        (
            (F.year("o_orderdate") - F.lit(1995)) * 2
            + F.when(F.month("o_orderdate") >= 7, 1).otherwise(0)
        )
        .cast("long")
        .alias("file_id"),
        "o_orderdate",
    )
    lo = F.lit(PRUNE_LO).cast("timestamp_ntz")
    hi = F.lit(PRUNE_HI).cast("timestamp_ntz")
    return (
        hash_files.unionByName(date_files)
        .groupBy("layout", "file_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("min_day"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_day"),
            ((F.max("o_orderdate") < lo) | (F.min("o_orderdate") > hi)).alias(
                "can_skip"
            ),
        )
    )


@register(
    "privacy_k_anonymity",
    oracle=f"""
    WITH g1 AS (
      SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS n
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    gen AS (
      SELECT c_nationkey,
             CASE WHEN n < {K_ANON} THEN '*' ELSE c_mktsegment END AS segment,
             n
      FROM g1)
    SELECT c_nationkey, segment,
           sum(n)::BIGINT AS n_people,
           sum(n) >= {K_ANON} AS k_ok
    FROM gen GROUP BY c_nationkey, segment
    """,
    doc=f"k-anonymity audit over the quasi-identifier pair (nation, market "
    f"segment), k={K_ANON}: equivalence classes below k get their segment "
    "generalized to '*' (one rung of the generalization ladder) and are "
    "re-aggregated; the k_ok flag stays honest for merged classes that "
    "remain small. One fact-scale map-side-combined groupBy; the "
    "re-aggregation shuffles only the first pass's OUTPUT (one row per "
    "equivalence class — metadata-sized at any fact scale). The release "
    "gate a training-data pipeline runs before shipping user-derived "
    "tables.",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    g1 = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    gen = g1.withColumn(
        "segment",
        F.when(F.col("n") < K_ANON, F.lit("*")).otherwise(F.col("c_mktsegment")),
    )
    return gen.groupBy("c_nationkey", "segment").agg(
        F.sum("n").cast("long").alias("n_people"),
        (F.sum("n") >= K_ANON).alias("k_ok"),
    )


def _cms_bucket_sql(row_expr: str, key_expr: str) -> str:
    h = MD5_LONG_SQL.format(x=f"'cms' || {row_expr}::VARCHAR || ':' || {key_expr}")
    return f"{h} % {CMS_WIDTH}"


def _cms_bucket(row_col: F.Column, key_col: F.Column) -> F.Column:
    return (
        md5_long(
            F.concat(F.lit("cms"), row_col.cast("string"), F.lit(":"), key_col)
        )
        % CMS_WIDTH
    )


@register(
    "sketch_cms_event_counts",
    oracle=f"""
    WITH e AS (
      SELECT event_type || '#' || (user_id % {CMS_USER_MOD})::VARCHAR AS key
      FROM events),
    exact AS (SELECT key, count(*)::BIGINT AS exact_n FROM e GROUP BY key),
    r AS (SELECT unnest([{", ".join(str(i) for i in range(CMS_ROWS))}]) AS r),
    sk AS (
      SELECT r.r, {_cms_bucket_sql("r.r", "e.key")} AS bucket,
             count(*)::BIGINT AS c
      FROM e, r GROUP BY 1, 2),
    top AS (
      SELECT key, exact_n FROM (
        SELECT *, row_number() OVER (ORDER BY exact_n DESC, key) AS rn
        FROM exact)
      WHERE rn <= {CMS_TOPN}),
    probes AS (
      SELECT t.key, t.exact_n, r.r, {_cms_bucket_sql("r.r", "t.key")} AS bucket
      FROM top t, r)
    SELECT p.key, p.exact_n,
           min(sk.c)::BIGINT AS cms_est,
           min(sk.c) >= p.exact_n AS over_ok
    FROM probes p JOIN sk ON sk.r = p.r AND sk.bucket = p.bucket
    GROUP BY p.key, p.exact_n
    """,
    doc=f"Count-min sketch (d={CMS_ROWS}, w={CMS_WIDTH}) over ~485 "
    "(event_type, user-bucket) keys, then point-query estimates for the "
    f"top-{CMS_TOPN} keys by exact count: est = min over rows of the "
    "hashed bucket's counter, with the CM one-sided guarantee asserted "
    "in-plan (over_ok — estimates never undercount). The sketch is one "
    f"groupBy of {CMS_ROWS}x{CMS_WIDTH} cells — mergeable across "
    "partitions/days exactly like the HLL entry, and the probe join "
    "broadcasts the 256-row sketch. Same md5-prefix integer hash both "
    "engines, so every counter and estimate hash-matches DuckDB.",
)
def sketch_cms_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = F.array(*[F.lit(i) for i in range(CMS_ROWS)])
    e = load_table(spark, sf_dir, "events").select(
        F.concat_ws(
            "#", "event_type", (F.col("user_id") % CMS_USER_MOD).cast("string")
        ).alias("key")
    )
    exact = e.groupBy("key").agg(F.count("*").cast("long").alias("exact_n"))
    sketch = (
        e.select(F.explode(rows).alias("r"), "key")
        .select("r", _cms_bucket(F.col("r"), F.col("key")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = (
        exact.withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("exact_n"), "key"))
        )
        .filter(F.col("rn") <= CMS_TOPN)
        .drop("rn")
    )
    probes = top.select(
        "key", "exact_n", F.explode(rows).alias("r")
    ).withColumn("bucket", _cms_bucket(F.col("r"), F.col("key")))
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("key", "exact_n")
        .agg(
            F.min("c").alias("cms_est"),
            (F.min("c") >= F.first("exact_n")).alias("over_ok"),
        )
    )


def _mix_threshold_sql() -> str:
    arms = " ".join(
        f"WHEN '{lang}' THEN {pm}" for lang, pm in sorted(MIX_KEEP_PM.items())
    )
    return f"CASE lang {arms} ELSE {MIX_DEFAULT_PM} END"


@register(
    "sample_weighted_hash",
    oracle=f"""
    WITH s AS (
      SELECT lang,
             {MD5_LONG_SQL.format(x="'mix:' || doc_id::VARCHAR")} % 10000 AS u
      FROM documents)
    SELECT lang, count(*)::BIGINT AS n_total,
           sum(CASE WHEN u < {_mix_threshold_sql()} THEN 1 ELSE 0 END)::BIGINT
             AS n_kept
    FROM s GROUP BY lang
    """,
    doc="Deterministic hash-weighted mixture sampling: each document keeps "
    "iff md5('mix:'||doc_id) mod 10000 falls under its language's integer "
    "keep-threshold (en downsampled to 35%, fr kept whole) — the "
    "execution step that applies corpus_mix_weights-style target rates. "
    "Hash-thresholding beats rand() at scale: reproducible across "
    "retries/engines, stable under repartitioning, and incremental "
    "shards sample consistently with no coordination. One "
    "map-side-combined groupBy.",
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    u = md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 10000
    thr = F.lit(MIX_DEFAULT_PM)
    for lang, pm in sorted(MIX_KEEP_PM.items()):
        thr = F.when(F.col("lang") == lang, F.lit(pm)).otherwise(thr)
    return (
        d.select("lang", (u < thr).cast("int").alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum("kept").cast("long").alias("n_kept"),
        )
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events),
    t AS (
      SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n,
           round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM t
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag window keyed (user_id | ts, event_id) -> (prev, next) "
    "pair counts -> row-normalized P(next|prev). One shuffle for the "
    "sequence window, one for the pair groupBy, and the normalizing "
    "window runs on the 25-row matrix. The user-journey model behind "
    "next-action prediction and funnel-shortcut detection; at 100 TB the "
    "sequence window is the same per-user partitioning sessionization "
    "already uses, so the two share one exchange when composed.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    seq = e.withColumn(
        "prev_type",
        F.lag("event_type").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return t.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(W.partitionBy("prev_type")), 6).alias("p"),
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type,
           count(*)::BIGINT AS n,
           sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)::BIGINT
             AS n_outliers,
           round(max(d.med), 6) AS med,
           round(m.mad, 6) AS mad
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.mad
    """,
    doc="Robust outlier detection via median absolute deviation: per "
    "event_type, |value - median| > 3 * 1.4826 * MAD flags outliers "
    "without the mean/stddev masking effect (a single huge value inflates "
    "stddev and hides itself; the median pair is breakdown-50% robust — "
    "the complement to events_rate_anomaly's z-score). Two "
    "median-aggregate passes over the same grouping key plus broadcast "
    "joins of the 5-row stats — both engines compute the identical "
    "interpolated median, so flags hash-match exactly.",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "mad")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
            F.round(F.max("med"), 6).alias("med"),
        )
        .select(
            "event_type", "n", "n_outliers", "med", F.round("mad", 6).alias("mad")
        )
    )


ERASE_MOD = 20  # ~5% of users file erasure requests


@register(
    "gdpr_erasure_propagation",
    oracle=f"""
    WITH erase AS (
      SELECT DISTINCT user_id FROM events
      WHERE {MD5_LONG_SQL.format(x="'erase:' || user_id::VARCHAR")}
              % {ERASE_MOD} = 0),
    daily AS (
      SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY 1, 2),
    profile AS (
      SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
    report AS (
      SELECT 'events' AS table_name,
             count(*)::BIGINT AS rows_before,
             sum(CASE WHEN x.user_id IS NULL THEN 0 ELSE 1 END)::BIGINT
               AS rows_deleted
      FROM events e LEFT JOIN erase x USING (user_id)
      UNION ALL
      SELECT 'daily_counts', count(*)::BIGINT,
             sum(CASE WHEN x.user_id IS NULL THEN 0 ELSE 1 END)::BIGINT
      FROM daily d LEFT JOIN erase x USING (user_id)
      UNION ALL
      SELECT 'user_profile', count(*)::BIGINT,
             sum(CASE WHEN x.user_id IS NULL THEN 0 ELSE 1 END)::BIGINT
      FROM profile p LEFT JOIN erase x USING (user_id))
    SELECT table_name, rows_before, rows_deleted,
           rows_before - rows_deleted AS rows_after
    FROM report
    """,
    doc="Right-to-erasure propagation: a deterministic ~5% erasure "
    "manifest (hash-selected users, standing in for the DSAR queue) is "
    "anti-joined through the raw fact table AND its derived aggregates "
    "(daily rollup, per-user profile), reporting before/deleted/after "
    "counts per table — the audit artifact a GDPR/CCPA deletion job must "
    "emit. The manifest broadcasts (it is small by construction), so "
    "each table pays one scan and no shuffle; pairs with "
    "privacy_k_anonymity as the governance gate family.",
)
def gdpr_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    erase = (
        e.select("user_id")
        .distinct()
        .filter(
            md5_long(F.concat(F.lit("erase:"), F.col("user_id").cast("string")))
            % ERASE_MOD
            == 0
        )
        .withColumn("__erased", F.lit(1))
    )
    daily = e.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).count()
    profile = e.groupBy("user_id").count()

    def audit(df: DataFrame, name: str) -> DataFrame:
        j = df.join(F.broadcast(erase), "user_id", "left")
        return j.agg(
            F.lit(name).alias("table_name"),
            F.count("*").cast("long").alias("rows_before"),
            F.coalesce(F.sum("__erased"), F.lit(0)).cast("long").alias("rows_deleted"),
        )

    rep = (
        audit(e, "events")
        .unionByName(audit(daily, "daily_counts"))
        .unionByName(audit(profile, "user_profile"))
    )
    return rep.withColumn(
        "rows_after", (F.col("rows_before") - F.col("rows_deleted")).cast("long")
    )


PPJOIN_T = 0.7  # Jaccard threshold; prefix math below is exact for t = 7/10


def _ppjoin_oracle() -> str:
    """Prefix-filter join over the SAME shingle universe as
    dedup_ngram_jaccard / MinHash (shared _SHINGLE_CTE: tok, sh, sizes).
    Distinct UNIGRAMS of the ~30-word synthetic vocabulary would make
    nearly every doc-pair similar — a property of degenerate sets, not of
    the algorithm — so the set elements are word-3-grams. The final
    filter applies to the ROUNDED ratio, matching jaccard_pairs' output."""
    from .dedup_text import _SHINGLE_CTE

    return f"""
    WITH {_SHINGLE_CTE},
    df AS (SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY sh),
    ranked AS (
      SELECT s.doc_id, s.sh, z.n_sh,
             row_number() OVER (
               PARTITION BY s.doc_id ORDER BY d.df, s.sh) AS rn
      FROM sh s JOIN df d USING (sh) JOIN sizes z USING (doc_id)),
    pref AS (
      SELECT doc_id, sh FROM ranked
      WHERE rn <= n_sh - (69995 * n_sh + 99999) // 100000 + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*)::BIGINT AS n_inter
      FROM cand c
      JOIN sh ta ON ta.doc_id = c.id_a
      JOIN sh tb ON tb.doc_id = c.id_b AND tb.sh = ta.sh
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= {PPJOIN_T}
    """


@register(
    "dedup_prefix_filter_join",
    oracle=_ppjoin_oracle(),
    doc=f"EXACT set-similarity self-join (shingle Jaccard >= {PPJOIN_T}) "
    "via prefix filtering (the PPJoin family, Xiao et al. 2008): shingles "
    "are globally ordered rarest-first, each document exposes only its "
    "first len - ceil(t*len) + 1 shingles, and only documents sharing a "
    "PREFIX shingle become candidates — a pair sharing zero prefix "
    "elements provably cannot reach the verify's ROUNDED threshold "
    "(round(J,4) >= 0.7 admits true J >= 0.69995, so both the prefix "
    "length and the length filter use the rounding-safe 0.69995 "
    "algebra), so the exact-verify join runs on "
    "a candidate set that scales with rare-shingle collisions, not n². "
    "The deterministic alternative to MinHash-LSH: no missed-pair "
    "probability, same shuffle shape (element-keyed joins + one pair "
    "aggregate), and the rarest-first order keeps prefix buckets small "
    "(frequency skew works FOR the filter). Prefix length uses exact "
    "integer ceil algebra on the rounded threshold so both engines cut "
    "identical, provably-sound prefixes.",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full implementation (incl. the rounding-safe 0.69995 prefix + length
    # algebra, ADVICE r4) lives in operators/dedup.ppjoin_dedup so
    # tools/scale_probe.py can race it against MinHash-LSH and the
    # bucketed-bronze path on the same inflated corpus (r5 verdict #6)
    from ..operators import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    return DD.ppjoin_dedup(d, "text", "doc_id", 3)


@register(
    "udaf_grouped_agg_gini",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS i,
             count(*) OVER (PARTITION BY o_orderpriority) AS n,
             sum(o_totalprice) OVER (PARTITION BY o_orderpriority) AS s
      FROM orders)
    SELECT o_orderpriority,
           round(2.0 * sum(i * o_totalprice) / (max(n) * max(s))
                 - (max(n) + 1.0) / max(n), 6) AS gini
    FROM r GROUP BY o_orderpriority
    """,
    doc="§2.12 pandas GROUPED_AGG UDAF (the Series -> scalar aggregation "
    "extension point — the one UDF surface the registry didn't yet "
    "exercise): Gini concentration of order totals per priority class, "
    "computed from each group's sorted vector in numpy. Inherently "
    "rank-dependent, so no built-in aggregate expresses it directly; the "
    "oracle reproduces it with a rank window. Tied amounts contribute "
    "identically under any tie order (equal values x equal-sum rank "
    "blocks), so both engines agree exactly at 6 decimals.",
)
def udaf_grouped_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def _gini(v):
        x = np.sort(v.to_numpy(dtype="float64"))
        n = len(x)
        s = x.sum()
        if n == 0 or s == 0:
            return float("nan")
        ranks = np.arange(1, n + 1, dtype="float64")
        return float(2.0 * ranks.dot(x) / (n * s) - (n + 1.0) / n)

    # `from __future__ import annotations` stringifies inline hints, which
    # pandas-UDF inference can't evaluate — attach REAL annotation objects
    # so Series -> float selects the GROUPED_AGG eval type
    _gini.__annotations__ = {"v": pd.Series, "return": float}
    gini = F.pandas_udf(_gini, "double")

    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    return o.groupBy("o_orderpriority").agg(
        F.round(gini("o_totalprice"), 6).alias("gini")
    )


@register(
    "udf_scalar_iter_classify",
    oracle="""
    SELECT doc_id,
           CASE WHEN regexp_matches(text, '[0-9]') THEN 'has_digit'
                WHEN length(text) > 200 THEN 'long'
                ELSE 'plain' END AS doc_class
    FROM documents
    """,
    doc="§2.12 SCALAR_ITER pandas UDF (Iterator[Series] -> "
    "Iterator[Series]): the per-partition init-once pattern — the "
    "classifier 'model' (here a compiled regex + threshold table, "
    "standing in for a real tokenizer/ONNX session) is constructed ONCE "
    "per worker before the batch loop, then streamed over Arrow batches. "
    "The variant scalar pandas UDFs can't express: their function body "
    "pays init per BATCH. Logic mirrored in the oracle as a CASE chain.",
)
def udf_scalar_iter_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def _classify_batches(batches):
        import re

        digit = re.compile(r"[0-9]")  # init-once-per-worker section

        for s in batches:
            has_digit = s.map(lambda t: bool(digit.search(t)) if t is not None else False)
            yield pd.Series(
                ["has_digit" if d else ("long" if t is not None and len(t) > 200 else "plain")
                 for d, t in zip(has_digit, s)]
            )

    from collections.abc import Iterator

    _classify_batches.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    classify = F.pandas_udf(_classify_batches, "string")

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", classify("text").alias("doc_class"))


@register(
    "stream_scd2_apply",
    oracle="""
    WITH chg AS (
      SELECT o_orderkey, o_orderstatus AS status, o_orderdate AS eff_ts
      FROM orders
      UNION ALL
      SELECT o_orderkey, 'X', o_orderdate + INTERVAL 30 DAY
      FROM orders WHERE o_orderkey % 11 = 0)
    SELECT o_orderkey, status,
           eff_ts AS valid_from,
           lead(eff_ts) OVER w AS valid_to,
           (lead(eff_ts) OVER w IS NULL) AS is_current
    FROM chg
    WINDOW w AS (PARTITION BY o_orderkey ORDER BY eff_ts, status)
    """,
    doc="STREAMING SCD2 (type-2) apply: a two-shard changelog (initial "
    "statuses, then 30-days-later corrections for every 11th order) "
    "arrives through the file stream source one file per micro-batch; "
    "foreachBatch re-chains ONLY the touched keys — prior versions of "
    "batch keys + the batch rows get a fresh [valid_from, valid_to) "
    "lead() chain, untouched keys are carried over — and the final "
    "history equals the batch SCD2 of the whole changelog regardless of "
    "how the stream was batched. The type-2 companion to "
    "stream_foreachbatch_upsert's type-1 merge; the full-table rewrite "
    "is the parquet stand-in for a lakehouse MERGE — at 100 TB the "
    "target is a transactional table partitioned by key-bucket and each "
    "batch rewrites only its touched buckets.",
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    feed, target, chk = (
        run_dir(f"scd2_stream_{part}", sf_dir) for part in ("feed", "target", "chk")
    )
    os.makedirs(feed, exist_ok=True)

    o = load_table(spark, sf_dir, "orders")
    v1 = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("eff_ts"),
    )
    v2 = (
        o.filter(F.col("o_orderkey") % 11 == 0)
        .select(
            "o_orderkey",
            F.lit("X").alias("status"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("eff_ts"),
        )
    )
    # stage the two changelog shards as ONE parquet file each, renamed so
    # the corrections shard sorts (and is admitted) after the initial load
    for tag, shard in (("aaa-initial", v1), ("zzz-corrections", v2)):
        tmp = run_dir(f"scd2_stream_stage_{tag}", sf_dir)
        shard.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.startswith("part-"))
        os.rename(os.path.join(tmp, part), os.path.join(feed, f"{tag}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.select("o_orderkey", "status", "eff_ts")
        if os.path.exists(target):
            cur = s.read.parquet(target)
            touched = batch.select("o_orderkey").distinct()
            keep = cur.join(touched, "o_orderkey", "left_anti")
            prior = (
                cur.join(touched, "o_orderkey", "semi")
                .select(
                    "o_orderkey", "status", F.col("valid_from").alias("eff_ts")
                )
            )
            versions = prior.unionByName(batch)
        else:
            keep = None
            versions = batch
        w = W.partitionBy("o_orderkey").orderBy("eff_ts", "status")
        chained = versions.select(
            "o_orderkey",
            "status",
            F.col("eff_ts").alias("valid_from"),
            F.lead("eff_ts").over(w).alias("valid_to"),
            F.lead("eff_ts").over(w).isNull().alias("is_current"),
        )
        out = chained if keep is None else keep.unionByName(chained)
        out.write.mode("overwrite").parquet(target + "_next")
        shutil.rmtree(target, ignore_errors=True)
        os.rename(target + "_next", target)

    q = (
        spark.readStream.schema("o_orderkey long, status string, eff_ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.read.parquet(target)


ATTRIB_WINDOW_US = 86_400_000_000  # 24h last-touch lookback, microseconds


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN epoch_us(ts) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS touch_us
      FROM events),
    p AS (
      SELECT CASE WHEN touch_us IS NOT NULL
                   AND epoch_us(ts) - touch_us <= {ATTRIB_WINDOW_US}
                  THEN touch_type ELSE 'none' END AS touch_type,
             value
      FROM seq WHERE event_type = 'purchase')
    SELECT touch_type, count(*)::BIGINT AS n_purchases,
           round(sum(value), 2) AS value_sum
    FROM p GROUP BY touch_type
    """,
    doc="Last-touch marketing attribution in ONE window pass: a running "
    "last-non-null (touch type, touch time) over each user's ordered "
    "stream, then every purchase credits its most recent click/view "
    "within a 24h lookback (else 'none'). No self-join of purchases "
    "against touches — the running-state window is the same per-user "
    "(ts, event_id) ordering sessionization and the Markov entry use, so "
    "at 100 TB the whole behavioral family shares one sort-shuffle. "
    "Value sums rounded identically in both engines.",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    seq = e.withColumn(
        "touch_type",
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True).over(w),
    ).withColumn(
        "touch_us",
        F.last(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True).over(w),
    )
    p = seq.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_us").isNotNull()
            & (F.unix_micros("ts") - F.col("touch_us") <= ATTRIB_WINDOW_US),
            F.col("touch_type"),
        )
        .otherwise(F.lit("none"))
        .alias("touch_type"),
        "value",
    )
    return p.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


PATH_TOPN = 20


@register(
    "events_path_topn",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS t0,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (
      SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*)::BIGINT AS n
      FROM seq WHERE t2 IS NOT NULL
      GROUP BY 1)
    SELECT path, n, rank FROM (
      SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rank
      FROM paths)
    WHERE rank <= {PATH_TOPN}
    """,
    doc=f"Top-{PATH_TOPN} 3-step behavioral paths: two leads over the "
    "shared per-user (ts, event_id) window -> path string -> count -> "
    "deterministic top-N. The n-gram generalization of the Markov entry "
    "(order-2 context instead of order-1); the path alphabet is "
    "|event_types|³ so the aggregate output stays tiny no matter the "
    "fact-table size.",
)
def events_path_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    paths = (
        seq.filter(F.col("t2").isNotNull())
        .groupBy(F.concat_ws(">", "t0", "t1", "t2").alias("path"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return (
        paths.withColumn(
            "rank", F.row_number().over(W.orderBy(F.desc("n"), "path"))
        )
        .filter(F.col("rank") <= PATH_TOPN)
        .select("path", "n", "rank")
    )


KNN_K = 5


def _knn_graph_oracle() -> str:
    """Directed LSH kNN graph over ALL vectors: the bucket CTEs from
    queries/similarity.py without the query-id restriction."""
    from .similarity import N_BITS, N_TABLES, _BASE_CTE, _table_bits

    tables = "\n      UNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, {_table_bits(N_BITS, 42 + t)} AS bucket FROM base"
        for t in range(N_TABLES)
    )
    return f"""
    WITH {_BASE_CTE},
    b AS ({tables}),
    cand AS (
      SELECT DISTINCT a.vec_id AS src, b2.vec_id AS dst
      FROM b a JOIN b b2 USING (tbl, bucket) WHERE a.vec_id <> b2.vec_id),
    scored AS (
      SELECT c.src, c.dst,
             round(list_cosine_similarity(
               qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 6) AS cos_sim
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.src
      JOIN embeddings ne ON ne.vec_id = c.dst)
    SELECT src, dst, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
      FROM scored)
    WHERE rank <= {KNN_K}
    """


@register(
    "ann_knn_graph_lsh",
    oracle=_knn_graph_oracle(),
    doc=f"Directed k-NN graph (k={KNN_K}) over ALL vectors via hyperplane-"
    "LSH: every vector is simultaneously query and candidate, so the "
    "bucket table self-joins on (tbl, bucket) — candidate cost scales "
    "with per-bucket occupancy, never all-pairs — and each source keeps "
    "its exact-cosine top-k among collided candidates. THE construction "
    "step for graph-based corpus curation (SemDeDup clustering, "
    "graph-connected dedup, hubness audits): downstream ops consume the "
    "edge list, not the vectors. Same integer-quantized planes as the "
    "other ANN entries, so the whole graph hash-matches the DuckDB "
    "oracle. At 100 TB the bucket table is written partitioned by "
    "(tbl, bucket) (write_lsh_layout) and the self-join becomes "
    "per-partition local.",
)
def ann_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as SIM
    from .similarity import N_BITS, N_TABLES, QUANT_SCALE

    emb = load_table(spark, sf_dir, "embeddings")
    b = SIM.hyperplane_lsh_buckets(
        emb,
        n_bits=N_BITS,
        dim=64,
        seed=42,
        quantize_scale=QUANT_SCALE,
        n_tables=N_TABLES,
    ).select("vec_id", "tbl", "bucket")
    cand = (
        b.alias("a")
        .join(b.alias("c"), ["tbl", "bucket"])
        .filter(F.col("a.vec_id") != F.col("c.vec_id"))
        .select(F.col("a.vec_id").alias("src"), F.col("c.vec_id").alias("dst"))
        .distinct()
    )
    # norms ride the (tiny) vector sides of the join: in a kNN GRAPH every
    # vector scores against ~K·collisions partners, so precomputing the
    # norm per VECTOR instead of per PAIR removes two of the three
    # interpreted folds per scored edge (same IEEE values — same fold,
    # same multiply order as SIM.cosine)
    ea = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("va"),
        SIM.norm(F.col("embedding")).alias("__na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("vb"),
        SIM.norm(F.col("embedding")).alias("__nb"),
    )
    scored = (
        cand.join(ea, "src")
        .join(eb, "dst")
        .select(
            "src",
            "dst",
            F.round(
                SIM.cosine_with_norms(
                    F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("src").orderBy(F.desc("cos_sim"), "dst")
            ),
        )
        .filter(F.col("rank") <= KNN_K)
        .select("src", "dst", "cos_sim", "rank")
    )


N_RANGE_PARTS = 8


@register(
    "layout_range_partition_plan",
    oracle=f"""
    WITH t AS (
      SELECT o_totalprice,
             ntile({N_RANGE_PARTS}) OVER (
               ORDER BY o_totalprice, o_orderkey) AS pid
      FROM orders)
    SELECT pid, count(*)::BIGINT AS n_rows,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM t GROUP BY pid
    """,
    doc=f"Range-partition plan for a sorted write: ntile({N_RANGE_PARTS}) "
    "over (o_totalprice, o_orderkey) assigns perfectly balanced "
    "partitions and the per-partition min/max ARE the range boundaries a "
    "writer hands to repartitionByRange — plus the row counts that prove "
    "the plan is skew-free (every partition within one row of even). At "
    "100 TB the boundaries come from approx quantiles on a sample and "
    "this query is the balance AUDIT after the write; here the exact "
    "ntile makes the whole plan oracle-checkable. The missing piece "
    "between zorder_zvalue (what to sort by) and layout_minmax_prune "
    "(what sorting buys).",
)
def layout_range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = o.withColumn(
        "pid",
        F.ntile(N_RANGE_PARTS).over(W.orderBy("o_totalprice", "o_orderkey")),
    )
    return t.groupBy("pid").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "gov_crypto_shred",
    oracle="""
    SELECT doc_id,
      CAST(doc_id % 10 AS INT) AS user_id,
      CASE WHEN doc_id % 10 IN (3, 7) THEN 'shredded'
           ELSE 'recovered' END AS status,
      CASE WHEN doc_id % 10 IN (3, 7) THEN NULL
           ELSE length(text) END AS n_chars,
      CAST(CASE WHEN doc_id % 10 IN (3, 7) THEN 0 ELSE 1 END AS INT)
        AS text_exact
    FROM documents
    """,
    doc="Crypto-shredding — the published way the right-to-be-forgotten "
    "is honored at 100 TB: PII columns are encrypted under PER-USER "
    "keys at ingest, and an erasure request deletes ONE KEY ROW "
    "instead of rewriting petabytes of immutable parquet; data under "
    "a dropped key is cryptographically unreadable in place. Here the "
    "bronze layer encrypts each document's text under its owner's key "
    "(the engine's own FIPS-197 AES in the Arrow kernel, IV+CBC+PKCS "
    "layout), the key table has the erased users' rows DROPPED (users "
    "3 and 7), and the read path is PURE JVM: broadcast key join + "
    "Spark's builtin try_aes_decrypt, which returns NULL for the "
    "shredded rows — making this ALSO the third independent pin on "
    "the AES core (after FIPS vectors and javax.crypto): a cipher "
    "or layout bug and the JVM cannot read what Python wrote, failing "
    "the oracle's exact text recovery on every surviving row. Scale: "
    "encrypt-at-ingest is map-side; the key table is KB-sized per "
    "million users (broadcast); erasure is a single-row delete plus "
    "key-rotation hygiene, never a data rewrite.",
)
def gov_crypto_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def encrypt(batches):
        import hashlib

        import pandas as pd

        from ..operators.pdf_crypt import aes_encrypt_payload

        for b in batches:
            out = {"doc_id": [], "user_id": [], "ct": []}
            for doc_id, text in zip(b["doc_id"], b["text"]):
                uid = int(doc_id) % 10
                key = hashlib.sha256(b"user-%d" % uid).digest()[:16]
                iv = hashlib.md5(b"iv-%d" % int(doc_id)).digest()
                out["doc_id"].append(int(doc_id))
                out["user_id"].append(uid)
                out["ct"].append(
                    aes_encrypt_payload(key, iv, text.encode("utf-8"))
                )
            yield pd.DataFrame(out)

    bronze = d.mapInPandas(
        encrypt, schema="doc_id long, user_id int, ct binary"
    )
    import hashlib

    erased = {3, 7}
    keys = spark.createDataFrame(
        [
            (u, bytearray(hashlib.sha256(b"user-%d" % u).digest()[:16]))
            for u in range(10)
            if u not in erased
        ],
        "user_id int, key binary",
    )
    joined = bronze.join(F.broadcast(keys), "user_id", "left")
    pt = F.expr("try_aes_decrypt(ct, key, 'CBC', 'PKCS')")
    docs = d.withColumnRenamed("text", "orig")
    return (
        joined.select(
            "doc_id", "user_id",
            F.when(pt.isNull(), F.lit("shredded"))
            .otherwise(F.lit("recovered")).alias("status"),
            F.when(pt.isNotNull(), F.length(F.decode(pt, "UTF-8")))
            .alias("n_chars"),
            pt.alias("pt"),
        )
        .join(docs, "doc_id")
        .select(
            "doc_id", "user_id", "status", "n_chars",
            F.when(
                F.col("pt").isNotNull()
                & (F.decode("pt", "UTF-8") == F.col("orig")),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("int").alias("text_exact"),
        )
    )

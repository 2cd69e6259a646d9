"""Registry entries: round-3 final wave — distribution-shape statistics
and the ungrouped Arrow map (the last §2.12 surface not yet exercised).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workdir import run_dir
from ..catalog import load_table
from ..operators import dedup as DD
from ..operators.graph import connected_components_star
from ..registry import register
from .dedup_text import REACH_ORACLE_TEMPLATE, _minhash_oracle

# o_totalprice spans ~[900, 500k]; scaling before the moment sums keeps
# x^4 terms near 1 so the two engines' float error stays far below the
# 6dp round. g1/g2 are scale-invariant, so the result is unchanged.
PRICE_SCALE = 100_000.0


@register(
    "stats_skew_kurtosis",
    oracle=f"""
    WITH m AS (
      SELECT o_orderpriority,
             avg(o_totalprice / {PRICE_SCALE}) AS m1,
             avg(pow(o_totalprice / {PRICE_SCALE}, 2)) AS e2,
             avg(pow(o_totalprice / {PRICE_SCALE}, 3)) AS e3,
             avg(pow(o_totalprice / {PRICE_SCALE}, 4)) AS e4
      FROM orders GROUP BY o_orderpriority),
    c AS (
      SELECT o_orderpriority,
             e2 - m1 * m1 AS m2,
             e3 - 3 * m1 * e2 + 2 * m1 * m1 * m1 AS m3,
             e4 - 4 * m1 * e3 + 6 * m1 * m1 * e2 - 3 * m1 * m1 * m1 * m1 AS m4
      FROM m)
    SELECT o_orderpriority,
           round(m3 / pow(m2, 1.5), 6) AS skewness_g1,
           round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_g2
    FROM c
    """,
    doc="Population skewness (g1) and excess kurtosis (g2) per order "
    "priority, computed from raw power-moment averages so both engines "
    "evaluate the identical algebra — Spark's skewness()/kurtosis() and "
    "DuckDB's skewness()/kurtosis() disagree on population-vs-sample "
    "corrections, so the moments are owned explicitly. One map-combined "
    "aggregate; values are scale-invariant so inputs are pre-scaled to "
    "keep the x^4 sums float-exact to well past 6dp.",
)
def stats_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice") / F.lit(PRICE_SCALE)
    m = o.groupBy("o_orderpriority").agg(
        F.avg(x).alias("m1"),
        F.avg(F.pow(x, 2)).alias("e2"),
        F.avg(F.pow(x, 3)).alias("e3"),
        F.avg(F.pow(x, 4)).alias("e4"),
    )
    m1, e2, e3, e4 = F.col("m1"), F.col("e2"), F.col("e3"), F.col("e4")
    m2 = e2 - m1 * m1
    m3 = e3 - F.lit(3) * m1 * e2 + F.lit(2) * m1 * m1 * m1
    m4 = (
        e4
        - F.lit(4) * m1 * e3
        + F.lit(6) * m1 * m1 * e2
        - F.lit(3) * m1 * m1 * m1 * m1
    )
    return m.select(
        "o_orderpriority",
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness_g1"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_g2"),
    )


MAP_ARROW_SCHEMA = "doc_id long, n_chars_arrow int, lang string"


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id, length(text)::INTEGER AS n_chars_arrow, lang
    FROM documents
    """,
    doc="§2.12 final surface: UNGROUPED mapInArrow — batches arrive as "
    "pyarrow RecordBatches with zero pandas conversion, the cheapest "
    "Python extension point for columnar kernels (tokenizers, codecs) "
    "that speak Arrow natively. The kernel here (utf8 codepoint length "
    "via pyarrow.compute) is deliberately row-pure so output is "
    "batch-partitioning-independent and value-oracle-checkable.",
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def kernel(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.utf8_length(batch.column("text")), pa.int32()),
                    batch.column("lang"),
                ],
                names=["doc_id", "n_chars_arrow", "lang"],
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return d.mapInArrow(kernel, MAP_ARROW_SCHEMA)


ATTRIB_WINDOW_US = 86_400_000_000  # 24h lookback, microseconds


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH touches AS (
      SELECT user_id, event_type AS touch_type, epoch_us(ts) AS touch_us
      FROM events WHERE event_type IN ('click', 'view')),
    purchases AS (
      SELECT user_id, event_id, epoch_us(ts) AS p_us, value
      FROM events WHERE event_type = 'purchase'),
    pt AS (
      SELECT p.event_id, p.value, t.touch_type,
             count(t.touch_type) OVER (PARTITION BY p.event_id) AS n_touches
      FROM purchases p
      LEFT JOIN touches t
        ON t.user_id = p.user_id
       AND t.touch_us <= p.p_us
       AND p.p_us - t.touch_us <= {ATTRIB_WINDOW_US}),
    credits AS (
      SELECT coalesce(touch_type, 'none') AS touch_type,
             CASE WHEN touch_type IS NULL THEN value
                  ELSE value / n_touches END AS credit
      FROM pt)
    SELECT touch_type,
           count(*)::BIGINT AS n_credits,
           round(sum(credit), 2) AS value_sum
    FROM credits GROUP BY touch_type
    """,
    doc="Linear multi-touch attribution: every purchase splits its value "
    "equally across ALL click/view touches in its 24h lookback (touchless "
    "purchases credit 'none' in full), so total credited value equals "
    "total purchase value — conservation the last-touch model also "
    "satisfies, making the two models' channel shares directly "
    "comparable. The purchase×touch join is user-keyed (one shuffle, "
    "bounded per-user fan-out of window-constrained pairs); the per-"
    "purchase touch count is a window over the join output, not a second "
    "aggregation pass.",
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("touch_us"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.unix_micros("ts").alias("p_us"), "value"
    )
    pt = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("touch_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("touch_us") <= ATTRIB_WINDOW_US),
        "left",
    ).withColumn(
        "n_touches", F.count("touch_type").over(W.partitionBy("event_id"))
    )
    credits = pt.select(
        F.coalesce(F.col("touch_type"), F.lit("none")).alias("touch_type"),
        F.when(F.col("touch_type").isNull(), F.col("value"))
        .otherwise(F.col("value") / F.col("n_touches"))
        .alias("credit"),
    )
    return credits.groupBy("touch_type").agg(
        F.count("*").cast("long").alias("n_credits"),
        F.round(F.sum("credit"), 2).alias("value_sum"),
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
    base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', max(o_orderdate), (SELECT a FROM anchor))
               AS recency_days,
             count(*)::BIGINT AS n_orders,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey),
    q AS (
      SELECT *,
             ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS r,
             ntile(5) OVER (ORDER BY n_orders ASC, custkey) AS f,
             ntile(5) OVER (ORDER BY monetary ASC, custkey) AS m
      FROM base)
    SELECT custkey, recency_days, n_orders, monetary, r, f, m,
           r::VARCHAR || f::VARCHAR || m::VARCHAR AS segment
    FROM q
    """,
    doc="RFM segmentation: per-customer recency (days from the corpus max "
    "order date, computed via a broadcast one-row anchor — not a global "
    "window), frequency, monetary, each quintiled by ntile(5) with a "
    "custkey tiebreak so tile assignment is deterministic in both "
    "engines; segment = concatenated quintiles (5 = best). NOTE the "
    "ntile windows are unpartitioned — fine for customer-grain (1 row "
    "per customer), and at true scale quintiles come from "
    "approx_percentile cutoffs instead of a global sort.",
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("a"))
    base = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("a"), F.col("last_order")).alias("recency_days"),
            "n_orders",
            "monetary",
        )
    )
    q = (
        base.withColumn(
            "r", F.ntile(5).over(W.orderBy(F.desc("recency_days"), F.asc("custkey")))
        )
        .withColumn(
            "f", F.ntile(5).over(W.orderBy(F.asc("n_orders"), F.asc("custkey")))
        )
        .withColumn(
            "m", F.ntile(5).over(W.orderBy(F.asc("monetary"), F.asc("custkey")))
        )
    )
    return q.select(
        "custkey",
        "recency_days",
        "n_orders",
        "monetary",
        "r",
        "f",
        "m",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ).alias("segment"),
    )


CLAMP_SCHEMA = "user_id long, rn int, bal double"


@register(
    "events_running_balance_clamp",
    oracle="""
    WITH RECURSIVE rows_ AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             CASE WHEN event_type = 'purchase' THEN -value ELSE value END
               AS delta
      FROM events),
    rec (user_id, rn, bal) AS (
      SELECT user_id, rn, greatest(delta, 0) FROM rows_ WHERE rn = 1
      UNION ALL
      SELECT x.user_id, x.rn, greatest(r.bal + x.delta, 0)
      FROM rec r JOIN rows_ x ON x.user_id = r.user_id AND x.rn = r.rn + 1)
    SELECT user_id, rn::INTEGER AS rn, round(bal, 6) AS bal FROM rec
    """,
    doc="Clamped running balance (credits accrue, purchases deduct, floor "
    "at 0): bal_i = max(0, bal_{i-1} + delta_i). The clamp makes each "
    "step depend on the SEQUENTIAL prior state, which no window frame "
    "can express (plain cumsum + greatest is wrong once any prefix dips "
    "below 0) — the canonical justification for a grouped applyInPandas "
    "scan: Arrow ships each user's ordered rows to one Python kernel, "
    "keys partition the work, and both engines accumulate in the same "
    "per-user order so the doubles agree exactly. Oracle = per-key "
    "recursive CTE. At 100 TB the group key bounds memory (one user's "
    "history per kernel call), and the shuffle is the same (user_id) "
    "partitioning the behavioral family shares.",
)
def events_running_balance_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", -F.col("value"))
        .otherwise(F.col("value"))
        .alias("delta"),
    )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        bal = 0.0
        out = []
        for d in pdf["delta"]:
            bal = max(bal + float(d), 0.0)
            out.append(round(bal, 6))
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "rn": range(1, len(pdf) + 1),
                "bal": out,
            }
        )

    return e.groupBy("user_id").applyInPandas(scan, CLAMP_SCHEMA)


def _phash_pixel_sql(j: int) -> str:
    """Pixel j in SQL — the shared formula beside
    operators/multimodal.md5_pixels (single source of truth)."""
    from ..operators.multimodal import md5_pixel_sql

    return md5_pixel_sql(j)


def _phash_oracle() -> str:
    px_list = ", ".join(_phash_pixel_sql(j) for j in range(64))
    return f"""
    WITH px AS (
      SELECT doc_id, [{px_list}] AS p FROM documents),
    h AS (
      SELECT doc_id,
             list_aggregate(
               list_transform(p, x -> CASE WHEN x > list_sum(p) / 64.0
                                           THEN '1' ELSE '0' END),
               'string_agg', '') AS ahash
      FROM px)
    SELECT doc_id, ahash,
           count(*) OVER (PARTITION BY ahash) AS n_dups
    FROM h
    """


def _ahash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ahash) over REAL image bytes (r5 verdict #5): each doc is
    rendered as a genuine binary-PPM (P6) image, and the hash kernel runs
    the REAL decode — netpbm header parse + raster → grayscale
    (operators/multimodal.decode_image_real, pure stdlib) → average-hash.
    The rendered pixels follow the oracle's md5 formula, so the decoded
    values — and hence the hashes — check against the unchanged DuckDB
    oracle end-to-end. Compressed payloads (JPEG/PNG) would raise at the
    decode seam where a codec library plugs in; only the ENCODE side is
    synthetic here, standing in for a binaryFile scan of .ppm objects."""
    import pandas as pd

    from ..operators.multimodal import ahash64, decode_image_real, make_image_table

    media = make_image_table(load_table(spark, sf_dir, "documents"))

    def op(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ahash": pdf["payload"].map(
                        lambda b: ahash64(decode_image_real(bytes(b))[2])
                    ),
                }
            )

    return media.mapInPandas(op, schema="doc_id long, ahash string")


@register(
    "multimodal_phash_dedup",
    oracle=_phash_oracle(),
    doc="Perceptual-hash dedup over REAL image bytes: each doc renders as "
    "a genuine 8x8 binary-PPM (P6) image, and the Arrow mapInPandas "
    "kernel runs a REAL pure-stdlib decode (netpbm header parse + raster "
    "→ grayscale, operators/multimodal.decode_image_real) before the "
    "average-hash (bit j = pixel_j > mean, a 64-char bit string), then "
    "one hash-group window counts duplicates. Compressed formats raise "
    "at the decode seam (where Pillow plugs in on a real cluster). "
    "Exact-duplicate images provably collide; at 100 TB the "
    "group-by-hash is the usual map-combined shuffle, and near-dup "
    "(Hamming ≤ k) generalizes by banding the bit string into k+1 "
    "sub-keys exactly like SimHash.",
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    h = _ahash_frame(spark, sf_dir)
    return h.withColumn(
        "n_dups", F.count("*").over(W.partitionBy("ahash")).cast("long")
    )


@register(
    "dedup_clusters_star",
    oracle=REACH_ORACLE_TEMPLATE.format(
        pairs_sql=_minhash_oracle(),
        select="SELECT node, component FROM comp",
    ),
    doc="Dedup clusters via the log-rounds large-star/small-star CC "
    "(Kiveris et al. 2014) over the same MinHash-LSH pairs as "
    "dedup_clusters: rounds grow with log(n), not component diameter "
    "— the variant that survives chain-heavy dedup graphs at 10^10 "
    "docs, where min-label propagation needs diameter-many shuffles. "
    "Equality with the min-label implementation is asserted in "
    "tests/test_graph_star.py; values check against the identical "
    "recursive-CTE reachability oracle (REACH_ORACLE_TEMPLATE, shared "
    "with dedup_clusters/dedup_apply).",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(d, "text", "doc_id").select("id_a", "id_b")
    # verified pairs are row-distinct with id_a < id_b and already
    # checkpointed — skip the star loop's input distinct + truncate (r15)
    return connected_components_star(pairs, edges_distinct=True)


# identical SQL text for both engines (the sql_api family contract):
# integer division spelled as floor(x/10.0) so no dialect operator appears
_RECURSIVE_HIERARCHY_SQL = """
    WITH RECURSIVE chain (custkey, cur, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer
      UNION ALL
      SELECT custkey, CAST(floor(cur / 10.0) AS BIGINT), depth + 1
      FROM chain WHERE cur > 0)
    SELECT custkey, max(depth) AS depth_to_root
    FROM chain GROUP BY custkey
"""


@register(
    "sql_recursive_hierarchy",
    oracle=_RECURSIVE_HIERARCHY_SQL,
    doc="Native WITH RECURSIVE (new in Spark 4): per-customer depth of "
    "the synthetic referrer chain custkey -> floor(custkey/10) -> ... -> "
    "0 — hierarchy walks (org charts, BOM explosions, folder trees) "
    "without driver-side loops. The IDENTICAL SQL text runs on both "
    "engines. Scale note: the planner materializes one step per level, "
    "so recursion depth = hierarchy depth (fine: log-scale here); for "
    "diameter-unbounded graphs the star CC operator remains the scale "
    "path.",
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(_RECURSIVE_HIERARCHY_SQL)


@register(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT o.o_orderpriority,
           count(*)::BIGINT AS n_items,
           round(sum(l.l_extendedprice), 2) AS price_sum
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Join-strategy control: the same fact-fact join Catalyst would "
    "default to sort-merge runs under a SHUFFLE_HASH hint — no sort on "
    "either side, one hash table per partition of the smaller side. The "
    "right strategy when the build side fits per-partition memory but "
    "exceeds the broadcast threshold (typical for mid-size dims at "
    "100 TB); semantics are hint-independent, which is exactly what the "
    "shared oracle checks. Strategy presence is plan-locked in "
    "tests/test_plans.py.",
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").hint("shuffle_hash")
    return (
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("price_sum"),
        )
    )


@register(
    "p14_ragged_csv_padding",
    oracle="""
    WITH k AS (
      SELECT c_custkey,
             2 + {pad_md5} % 3 AS kept
      FROM customer)
    SELECT kept,
           count(*)::BIGINT AS n_rows,
           sum(CASE WHEN kept < 3 THEN 1 ELSE 0 END)::BIGINT AS n_seg_padded,
           sum(CASE WHEN kept < 4 THEN 1 ELSE 0 END)::BIGINT AS n_nation_null
    FROM k GROUP BY kept
    """.format(pad_md5=DD.MD5_LONG_SQL.format(x="'pad:' || c_custkey::VARCHAR")),
    doc="P14 ragged-row padding, driver-checkable: customer rows are "
    "staged as a ragged CSV (each line keeps a hash-chosen 2-4 column "
    "prefix, written DISTRIBUTED via .text), read back schema-enforced "
    "(missing trailing columns -> null, Spark PERMISSIVE CSV), string "
    "nulls filled '' exactly like the reference pads sheet rows "
    "(/root/reference/extractors/fetch_gsheet_instructions.py:44). The "
    "Spark side infers each row's kept-column count from the observed "
    "null pattern, so the oracle (pure hash arithmetic over customer) "
    "only matches if the reader truly padded instead of dropping or "
    "misaligning rows.",
)
def p14_ragged_csv_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    kept = (
        F.lit(2)
        + DD.md5_long(F.concat(F.lit("pad:"), F.col("c_custkey").cast("string"))) % 3
    )
    cols = [
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_mktsegment"),
        F.col("c_nationkey").cast("string"),
    ]
    line = F.when(kept == 2, F.concat_ws(",", *cols[:2])).when(
        kept == 3, F.concat_ws(",", *cols[:3])
    ).otherwise(F.concat_ws(",", *cols))

    feed = run_dir("ragged", sf_dir)
    c.select(line.alias("value")).write.text(feed)

    raw = spark.read.csv(
        feed, schema="custkey LONG, name STRING, seg STRING, nation LONG"
    )
    inferred_kept = (
        F.lit(2)
        + F.col("seg").isNotNull().cast("int")
        + F.col("nation").isNotNull().cast("int")
    )
    padded = raw.withColumn("kept", inferred_kept).na.fill("", ["seg"])
    return padded.groupBy("kept").agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("seg") == "").cast("long")).alias("n_seg_padded"),
        F.sum(F.col("nation").isNull().cast("long")).alias("n_nation_null"),
    )



PHASH_BANDS = 4
PHASH_HAM_K = 3  # bands = K+1 guarantees a colliding band for Hamming <= K


def _phash_near_oracle() -> str:
    h_cte = _phash_oracle().split("SELECT doc_id, ahash,")[0]  # up to final SELECT
    return (
        h_cte
        + f""",
    bands AS (
      SELECT doc_id, ahash, i AS band_idx,
             substr(ahash, (i - 1) * 16 + 1, 16) AS band
      FROM h CROSS JOIN unnest([1, 2, 3, 4]) AS t(i)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.ahash AS ha, b.ahash AS hb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band = b.band
       AND a.doc_id < b.doc_id),
    ham AS (
      SELECT doc_a, doc_b,
             list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(ha, i::INTEGER, 1) <> substr(hb, i::INTEGER, 1)
                    THEN 1 ELSE 0 END))::BIGINT AS hamming
      FROM cand)
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {PHASH_HAM_K}
    """
    )


@register(
    "multimodal_phash_near",
    oracle=_phash_near_oracle(),
    doc=f"Hamming-banded perceptual near-dup (the generalization the "
    f"phash_dedup doc promises), hashing REAL decoded P6 pixels like "
    f"phash_dedup: the 64-bit aHash splits into "
    f"{PHASH_BANDS} 16-bit bands; by pigeonhole any pair with Hamming "
    f"<= {PHASH_HAM_K} shares at least one intact band, so the band "
    f"bucket-join finds ALL such pairs (no misses), then the exact "
    f"Hamming verify (a 64-step in-plan fold, JVM-side) filters false "
    f"candidates. Identical shape to SimHash banding — shuffle cost is "
    f"band rows, verify cost is candidates, never n².",
)
def multimodal_phash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _ahash_frame(spark, sf_dir)
    bands = h.select(
        "doc_id",
        "ahash",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, PHASH_BANDS + 1)])
        ).alias("band_idx"),
    ).withColumn(
        "band", F.expr("substr(ahash, (band_idx - 1) * 16 + 1, 16)")
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    ham = cand.withColumn(
        "hamming",
        F.expr(
            "aggregate(sequence(1, 64), 0, (acc, i) -> "
            "acc + IF(substr(ha, i, 1) != substr(hb, i, 1), 1, 0))"
        ).cast("long"),
    )
    return ham.filter(F.col("hamming") <= PHASH_HAM_K).select(
        "doc_a", "doc_b", "hamming"
    )


def _lsh_recall_oracle() -> str:
    from .extras5 import PPJOIN_T, _ppjoin_oracle

    return f"""
    WITH truth AS (SELECT id_a, id_b FROM ({_ppjoin_oracle()})),
    pred AS (SELECT id_a, id_b FROM ({_minhash_oracle(thr=PPJOIN_T)}))
    SELECT (SELECT count(*) FROM truth)::BIGINT AS n_true,
           (SELECT count(*) FROM pred)::BIGINT AS n_pred,
           (SELECT count(*) FROM truth JOIN pred USING (id_a, id_b))::BIGINT
             AS n_hit,
           round((SELECT count(*) FROM truth JOIN pred USING (id_a, id_b))
                 / greatest((SELECT count(*) FROM truth), 1) * 1.0, 6)
             AS recall
    """


@register(
    "dedup_lsh_recall_vs_exact",
    oracle=_lsh_recall_oracle(),
    doc="Dedup-quality instrumentation (the ANN-recall pattern applied to "
    "near-dedup): ground truth = the COMPLETE exact similarity join "
    "(prefix filtering, provably no misses at t=0.7); prediction = "
    "MinHash-LSH verified pairs at the same threshold. Recall measures "
    "exactly the banding miss-probability the LSH docs quote; precision "
    "is 1.0 by construction (LSH pairs are exact-verified), so only "
    "recall is emitted. In-plan, no collect — the harness a curation "
    "team runs per corpus before trusting LSH at scale.",
)
def dedup_lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .extras5 import PPJOIN_T, dedup_prefix_filter_join

    truth = dedup_prefix_filter_join(spark, sf_dir).select("id_a", "id_b")
    d = load_table(spark, sf_dir, "documents")
    pred = (
        DD.minhash_lsh_dedup(d, "text", "doc_id", threshold=PPJOIN_T)
        .select("id_a", "id_b")
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_pred = pred.agg(F.count("*").alias("n_pred"))
    n_hit = truth.join(pred, ["id_a", "id_b"]).agg(F.count("*").alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_pred))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_pred",
            "n_hit",
            F.round(
                F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)) * 1.0, 6
            ).alias("recall"),
        )
    )


@register(
    "f24_try_arithmetic",
    oracle="""
    WITH d AS (
      SELECT c_custkey,
             CASE WHEN ('0x' || substr(md5('dirty:' || c_custkey::VARCHAR),
                        1, 15))::UBIGINT::BIGINT % 3 = 0
                  THEN c_name
                  ELSE substr(c_name, 10) END AS raw_num,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer),
    t AS (
      SELECT c_custkey,
             TRY_CAST(raw_num AS BIGINT) AS parsed,
             CASE WHEN c_custkey % 5 = 0 THEN NULL
                  ELSE round(bal_cents / (c_custkey % 5) * 1.0, 6) END
               AS safe_div
      FROM d)
    SELECT count(*)::BIGINT AS n_rows,
           sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_unparsed,
           sum(parsed)::BIGINT AS parsed_sum,
           sum(CASE WHEN safe_div IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_div_null,
           round(sum(coalesce(safe_div, 0)), 4) AS div_sum
    FROM t
    """,
    doc="ANSI-safe error handling (Spark 4 try_* family): a third of the "
    "rows get a non-numeric string — try_cast yields NULL instead of the "
    "ANSI-mode throw; try_divide nulls the custkey%5==0 divisor rows. "
    "The oracle spells the same semantics as TRY_CAST + an explicit "
    "CASE, so the null-on-error contract is value-checked. This is how "
    "F11-style coercion stays correct when the engine session runs "
    "ANSI-on (the external driver may) — the sweep in "
    "tools/hostile_sweep.py runs every query that way.",
)
def f24_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    dirty_sel = (
        DD.md5_long(F.concat(F.lit("dirty:"), F.col("c_custkey").cast("string")))
        % 3
        == 0
    )
    d = c.select(
        "c_custkey",
        F.when(dirty_sel, F.col("c_name"))
        .otherwise(F.expr("substr(c_name, 10)"))
        .alias("raw_num"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    t = d.select(
        "c_custkey",
        F.expr("try_cast(raw_num AS BIGINT)").alias("parsed"),
        F.round(
            F.try_divide(F.col("bal_cents"), F.col("c_custkey") % 5) * 1.0, 6
        ).alias("safe_div"),
    )
    return t.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("parsed").isNull().cast("long")).alias("n_unparsed"),
        F.sum("parsed").alias("parsed_sum"),
        F.sum(F.col("safe_div").isNull().cast("long")).alias("n_div_null"),
        F.round(F.sum(F.coalesce(F.col("safe_div"), F.lit(0))), 4).alias("div_sum"),
    )


@register(
    "privacy_pseudonymize_mask",
    oracle="""
    WITH p AS (
      SELECT ('0x' || substr(md5('tenant-key-1:' || c_custkey::VARCHAR),
              1, 15))::UBIGINT::BIGINT AS pseudo_id,
             'Customer#****' || substr(c_name, 14) AS masked_name,
             c_mktsegment AS seg
      FROM customer)
    SELECT seg,
           count(*)::BIGINT AS n_rows,
           count(DISTINCT pseudo_id)::BIGINT AS n_distinct_pseudo,
           count(DISTINCT masked_name)::BIGINT AS n_distinct_masked
    FROM p GROUP BY seg
    """,
    doc="Pseudonymization + column masking (the governance pair beside "
    "k-anonymity and erasure propagation): identities become a KEYED "
    "hash — md5(tenant_key || id), joinability preserved (distinct count "
    "per segment unchanged, which the output proves) while the raw id "
    "never leaves the plan; the display name masks its middle digits. "
    "Key rotation = recompute with a new tenant key; per-row arithmetic, "
    "no shuffle beyond the audit aggregate. The tenant key here is a "
    "fixture literal — production reads it from the secret store.",
)
def privacy_pseudonymize_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    p = c.select(
        DD.md5_long(
            F.concat(F.lit("tenant-key-1:"), F.col("c_custkey").cast("string"))
        ).alias("pseudo_id"),
        F.concat(F.lit("Customer#****"), F.expr("substr(c_name, 14)")).alias(
            "masked_name"
        ),
        F.col("c_mktsegment").alias("seg"),
    )
    return p.groupBy("seg").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("pseudo_id").alias("n_distinct_pseudo"),
        F.countDistinct("masked_name").alias("n_distinct_masked"),
    )

"""Advanced OLAP patterns beyond the reference's surface — the operations
a Spark user of this engine gets "for free" and a 100 TB pipeline needs:
pivot/unpivot, cube/rollup, exact+approx distinct, percentiles, global
top-k, LIMIT-0 schema probes, salted skew-joins, as-of and range joins,
and embedding-cosine near-dup pairs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register

ORDER_STATUSES = ["O", "F", "P"]


@register(
    "pivot_status_by_priority",
    oracle=f"""
    SELECT o_orderpriority,
           {", ".join(f"count(CASE WHEN o_orderstatus = '{s}' THEN 1 END)::BIGINT AS {s}"
                      for s in ORDER_STATUSES)}
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (long→wide): order counts per priority × status. Explicit "
    "pivot values keep the plan one-pass (no value-discovery job).",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ORDER_STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, ORDER_STATUSES)
    )


@register(
    "unpivot_roundtrip",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS status, count(*) AS cnt
    FROM orders GROUP BY 1, 2
    """,
    doc="Unpivot (wide→long) via stack(): pivoting then unpivoting "
    "round-trips to the plain GROUP BY (zero combos dropped).",
)
def unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = pivot_status_by_priority(spark, sf_dir)
    stack_expr = "stack({n}, {args}) as (status, cnt)".format(
        n=len(ORDER_STATUSES),
        args=", ".join(f"'{s}', {s}" for s in ORDER_STATUSES),
    )
    return wide.selectExpr("o_orderpriority", stack_expr).filter(F.col("cnt") > 0)


@register(
    "cube_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE: all grouping-set combinations incl. grand total (null = "
    "aggregate level marker).",
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt"))


@register(
    "rollup_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="ROLLUP: hierarchical subtotals flag → (flag,status) → grand total.",
)
def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt"))


@register(
    "a7_count_distinct",
    oracle="""
    SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem
    """,
    doc="Exact multi-column COUNT DISTINCT (expand + two-phase aggregate).",
)
def a7_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "a8_approx_count_distinct",
    oracle="""
    SELECT count(DISTINCT l_partkey)::BIGINT AS n_parts_exact,
           TRUE AS approx_within_5pct
    FROM lineitem
    """,
    doc="approx_count_distinct (HyperLogLog++): the 100 TB path for "
    "distinct cardinality — one pass, fixed memory, no expand. HLL++ "
    "estimates are engine-specific by construction, so the oracle checks a "
    "derived deterministic assertion: the exact count (value-hashed) plus "
    "the boolean |approx-exact|/exact <= 5%% (rsd=2%%, so 2.5σ headroom), "
    "computed wholly in-plan on the Spark side and literal TRUE in DuckDB.",
)
def a8_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_partkey").alias("n_parts_exact"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02)
                - F.count_distinct("l_partkey")
            )
            / F.count_distinct("l_partkey")
            <= 0.05
        ).alias("approx_within_5pct"),
    )


@register(
    "a9_percentiles",
    oracle="""
    SELECT round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99
    FROM lineitem
    """,
    doc="Exact continuous percentiles (sort-based); percentile_approx is "
    "the sketch-based scale path (see a10).",
)
def a9_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("price_p99"),
    )


@register(
    "a10_percentile_approx",
    oracle="""
    SELECT round(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
           TRUE AS approx_within_1
    FROM lineitem
    """,
    doc="percentile_approx (quantile sketch) — fixed-memory single-pass "
    "quantiles for the 100 TB path. GK-sketch picks an actual data value, "
    "engine-specific, so the oracle checks a derived assertion: the exact "
    "interpolated median (value-hashed) plus the boolean "
    "|approx - exact| <= 1.0 computed in-plan (accuracy=10000 on an "
    "integer-valued 1..50 domain leaves generous headroom).",
)
def a10_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_exact"),
        (
            F.abs(
                F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000))
                - F.percentile("l_quantity", F.lit(0.5))
            )
            <= 1.0
        ).alias("approx_within_1"),
    )


@register(
    "global_topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    doc="Global top-k: orderBy+limit compiles to TakeOrderedAndProject — "
    "per-partition heaps + driver merge, no global sort.",
)
def global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


@register(
    "o2_limit0_schema",
    oracle="SELECT o_orderkey, o_orderstatus FROM orders WHERE FALSE",
    doc="O2: LIMIT 0 schema-only relation (the reference's head(0).to_sql "
    "DDL trick, create_scripts_dataset.ipynb:261).",
)
def o2_limit0_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus").limit(0)


SALT_BUCKETS = 8


@register(
    "join_salted_skew",
    oracle="""
    SELECT o.o_orderkey, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Skew-mitigation pattern: the fact key is salted (deterministic "
    "key mod 8) and the dim replicated 8x, so one hot key spreads over 8 "
    "reducers; result provably identical to the plain join (same oracle).",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "__salt", (F.col("o_orderkey") % SALT_BUCKETS).cast("int")
    )
    c = load_table(spark, sf_dir, "customer")
    replicated = c.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("__salt"),
    )
    joined = o.join(
        replicated,
        (o["o_custkey"] == replicated["c_custkey"]) & (o["__salt"] == replicated["__salt"]),
        "left",
    )
    return joined.select("o_orderkey", "c_mktsegment")


@register(
    "asof_join_last_signup",
    oracle="""
    SELECT e.event_id, epoch_us(s.ts) AS last_signup_us
    FROM events e
    ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    doc="As-of join (Spark has no native one): most recent signup at or "
    "before each event, per user — implemented as the union+last_value("
    "ignoreNulls) window pattern; verified against DuckDB's native ASOF "
    "JOIN.",
)
def asof_join_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # marker 0 = reference stream (signups), 1 = probe stream (all events);
    # at equal ts the reference sorts first, so an event can match a
    # same-instant signup (>= semantics) — including a signup matching itself
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.lit(0).alias("__m"), F.lit(None).cast("long").alias("event_id")
    )
    probes = ev.select("user_id", "ts", F.lit(1).alias("__m"), "event_id")
    combined = signups.unionByName(probes)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "__m")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    signup_ts = F.when(F.col("__m") == 0, F.unix_micros("ts"))
    out = combined.withColumn("last_signup_us", F.last(signup_ts, ignorenulls=True).over(w))
    return out.filter(F.col("__m") == 1).select("event_id", "last_signup_us")


RANGE_WINDOW_US = 30 * 60 * 1_000_000


@register(
    "range_join_neighbor_counts",
    oracle=f"""
    SELECT a.event_id, count(b.event_id)::BIGINT AS n_neighbors
    FROM events a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id <> a.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {RANGE_WINDOW_US}
    GROUP BY a.event_id
    """,
    doc="Range join via time-bucketing (Spark has no native range join): "
    "bucket = ts div 30min; candidates come from the 3 adjacent buckets "
    "(equi-join!), then the exact |Δt| filter — turns an O(n²) theta-join "
    "into a co-partitioned hash join at scale.",
)
def range_join_neighbor_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    a = ev.select(
        F.col("event_id").alias("event_id"),
        F.col("user_id").alias("u"),
        F.col("us").alias("a_us"),
        F.explode(
            F.array(*[(F.col("us") / RANGE_WINDOW_US).cast("long") + d for d in (-1, 0, 1)])
        ).alias("bucket"),
    )
    b = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("u"),
        F.col("us").alias("b_us"),
        (F.col("us") / RANGE_WINDOW_US).cast("long").alias("bucket"),
    )
    # each b row lives in exactly one bucket, a probes 3 → every true pair
    # matched exactly once by the equi-join
    pairs = a.join(b, ["u", "bucket"], "inner").filter(
        (F.col("b_id") != F.col("event_id"))
        & (F.abs(F.col("a_us") - F.col("b_us")) <= RANGE_WINDOW_US)
    )
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("__n"))
    base = load_table(spark, sf_dir, "events").select("event_id")
    return base.join(counts, "event_id", "left").select(
        "event_id", F.coalesce(F.col("__n"), F.lit(0)).alias("n_neighbors")
    )


COS_THRESHOLD = 0.4  # the synthetic embeddings' pairwise cosines top out ~0.5


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {COS_THRESHOLD}
    """,
    doc="Embedding-cosine near-dup pairs (cos >= 0.4), exact all-pairs "
    "baseline with norms precomputed per vector (NOT per pair); the "
    "LSH/IVF-bucketed candidate generators are the 100 TB path.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    # one narrow projection per side: norm computed n times, not n² times
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__ea"),
        norm(F.col("embedding")).alias("__na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__eb"),
        norm(F.col("embedding")).alias("__nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.select("id_a", "id_b", cos.alias("__cos"))
        .filter(F.col("__cos") >= COS_THRESHOLD)
        .select("id_a", "id_b", F.round("__cos", 6).alias("cos_sim"))
    )

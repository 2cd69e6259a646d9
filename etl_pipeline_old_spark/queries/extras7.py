"""Registry entries, round-3 final wave: streaming state-store
introspection (the Spark 4 ``statestore`` / ``state-metadata`` batch
readers), checkpoint-restart resume, a sentinel-closed left-outer
stream-stream join, runtime dynamic partition pruning, and
Johnson-Lindenstrauss sign random projection over the embedding corpus.

State introspection is the operational half of a production streaming
pipeline: when a 1000-executor stateful job misbehaves, the question
"what is actually IN the state store?" must be answerable without
stopping the stream or adding debug sinks. Spark 4 exposes every
checkpointed state store as a batch DataFrame — state inspection becomes
an ordinary query, and here it is value-checked: the per-key state the
engine persisted must equal the batch aggregate DuckDB computes from the
raw events.

The JL projection is the embedding-side counterpart of the quantized ANN
family in queries/similarity.py: compress 64-dim vectors to 16 dims with
a seeded ±1 sign matrix (Achlioptas 2003 — database-friendly random
projections), entirely in JVM expressions. Integer quantization (the
same floor(x·10⁴ + 0.5) trick as the LSH/IVF oracles) makes every
projected coordinate exact int64 arithmetic, so values — not just shapes
— cross-check against DuckDB, and the recall query measures exactly what
the compression costs the ANN pipeline.

Reference provenance: the reference has no streaming state or embedding
surface; these extend the engine along SURVEY.md §2.11/§6 (streaming)
and the LLM-pipeline similarity family.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workdir import run_dir
from ..catalog import events_stream, load_table
from ..operators import similarity as SIM
from ..registry import register
from ..session import ensure_session_confs
from .similarity import _EXACT_TOP, _RECALL_SELECT, K, QUERY_IDS
from .streaming_inc import CUTOFF

# scratch dirs come from the central session-token scheme (workdir.py):
# stable per (tag, sf_dir) WITHIN a process, isolated across processes,
# dead-pid-reaped and atexit-removed
_run_dir = run_dir


# ---------------------------------------------------------------------------
# statestore / state-metadata batch readers (§2.11 operational surface)
# ---------------------------------------------------------------------------


def _drain_user_totals_state(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Run the per-user running-totals aggregation as a stream (availableNow,
    update mode, noop sink) and return its checkpoint directory.

    The checkpoint is the QUERY OUTPUT here: the state files it leaves
    behind are what the ``statestore`` reader then inspects. Fresh per
    call (rmtree first) so re-runs are idempotent.
    """
    chk = _run_dir(tag, sf_dir)
    stream = events_stream(spark, sf_dir)
    q = (
        stream.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return chk


@register(
    "state_store_inspect",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    doc="§2.11 operational surface: drain a per-user stateful aggregation "
    "(availableNow, update mode), then read the checkpoint back through "
    "Spark 4's ``statestore`` batch data source — state inspection as an "
    "ordinary query, no debug sink and no stream restart. The per-key "
    "state rows the engine persisted are value-checked against the batch "
    "aggregate over the raw events: key struct = grouping key, value "
    "struct = the aggregation buffer (count, sum). At scale the state "
    "read is partition-parallel (one task per state-store shard), so "
    "inspecting a 1000-shard store costs one scan, not a stream replay.",
)
def state_store_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    chk = _drain_user_totals_state(spark, sf_dir, "state_inspect")
    st = spark.read.format("statestore").load(chk)
    # key = {user_id}, value = {count(1), sum(value)}. The buffer field NAMES
    # are plan-internal, so bind by schema inspection (count*/sum* prefix)
    # rather than blind position — a Spark upgrade that reorders or extends
    # the aggregation buffer then fails loudly here instead of mislabeling.
    key_fields = st.schema["key"].dataType.fieldNames()
    val_fields = st.schema["value"].dataType.fieldNames()
    if len(key_fields) != 1:
        raise AssertionError(f"expected 1 grouping key field, got {key_fields}")
    cnt = [f for f in val_fields if f.lower().startswith("count")]
    sm = [f for f in val_fields if f.lower().startswith("sum")]
    if len(cnt) != 1 or len(sm) != 1:
        raise AssertionError(f"unexpected aggregation buffer fields: {val_fields}")
    return st.select(
        F.col(f"key.`{key_fields[0]}`").alias("user_id"),
        F.col(f"value.`{cnt[0]}`").alias("n_events"),
        F.round(F.col(f"value.`{sm[0]}`"), 2).alias("total_value"),
    )


@register(
    "state_metadata_audit",
    oracle="""
    SELECT 'stateStoreSave' AS operator_name,
           'default' AS state_store_name,
           0 AS max_batch_id,
           count(DISTINCT user_id) AS n_state_keys
    FROM events
    """,
    doc="§2.11 operational surface, companion to state_store_inspect: the "
    "``state-metadata`` reader lists every stateful operator in a "
    "checkpoint (name, store, batch range) without touching state data — "
    "the first step of any state-debugging session. Joined here with the "
    "store's key count; value-checked against the batch distinct-key "
    "count (one drained availableNow batch => maxBatchId 0).",
)
def state_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    chk = _drain_user_totals_state(spark, sf_dir, "state_meta")
    md = spark.read.format("state-metadata").load(chk)
    keys = (
        spark.read.format("statestore")
        .load(chk)
        .agg(F.count("*").alias("n_state_keys"))
    )
    return md.select(
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("maxBatchId").cast("int").alias("max_batch_id"),
    ).crossJoin(keys)


@register(
    "stream_restart_resume",
    oracle=f"""
    SELECT count(*) AS total_rows,
           count(DISTINCT event_id) AS distinct_events,
           sum(CASE WHEN ts > TIMESTAMP '{CUTOFF}'
                    THEN 1 ELSE 0 END)::BIGINT AS run2_rows
    FROM events
    """,
    doc="§2.11 checkpoint-restart resume: the offset log IS the incremental "
    "contract. Run 1 drains the early half of the event feed "
    "(availableNow, foreachBatch append); the stream STOPS; more files "
    "arrive; run 2 restarts from the SAME checkpoint and must process "
    "ONLY the new files — the run-1 files are still sitting in the feed "
    "directory, so any offset-log regression double-appends them and "
    "fails the value check (total_rows > the table count). This is the "
    "nightly-restart story for a 100 TB lake: resume cost scales with "
    "the delta, never with the directory listing already committed.",
)
def stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    root = _run_dir("restart", sf_dir)
    feed = os.path.join(root, "feed")
    chk = os.path.join(root, "chk")
    tgt = os.path.join(root, "target")

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(CUTOFF).cast("timestamp")
    ev.filter(F.col("ts") <= cut).write.mode("append").parquet(feed)

    schema = spark.read.parquet(feed).schema

    def drain(tag: str) -> None:
        stream = spark.readStream.schema(schema).parquet(feed)

        def sink(bdf: DataFrame, _bid: int) -> None:
            bdf.withColumn("run_tag", F.lit(tag)).write.mode("append").parquet(tgt)

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain("run1")
    ev.filter(F.col("ts") > cut).write.mode("append").parquet(feed)
    drain("run2")

    out = spark.read.parquet(tgt)
    return out.agg(
        F.count("*").alias("total_rows"),
        F.countDistinct("event_id").alias("distinct_events"),
        F.sum(F.when(F.col("run_tag") == "run2", 1).otherwise(0))
        .cast("long")
        .alias("run2_rows"),
    )


@register(
    "k9_dpp_partitioned_join",
    oracle="""
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_p,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS n_s
      FROM events GROUP BY 1),
    sel AS (SELECT day FROM daily WHERE n_p >= n_s)
    SELECT d.day, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e JOIN sel d ON strftime(e.ts, '%Y-%m-%d') = d.day
    GROUP BY d.day
    """,
    doc="Dynamic partition pruning: the fact table is laid out partitioned "
    "by day; the dim side selects the days where purchases outpaced "
    "signups — a predicate only computable at RUNTIME (it compares two "
    "per-day aggregates), so static partition pruning cannot apply and "
    "Catalyst instead injects "
    "`dynamicpruningexpression(day IN dynamicpruning#N)` into the fact "
    "scan's PartitionFilters (asserted in tests/test_plans.py): the "
    "broadcast result prunes fact partitions before they are read. At "
    "100 TB this is the difference between scanning the selected days "
    "and scanning the whole table — restatement/backfill jobs keyed on "
    "runtime day lists get partition-level I/O elision for free by "
    "declaring the join instead of collecting the day list to the "
    "driver. Value-checked against DuckDB recomputing the same "
    "selection from the raw events.",
)
def k9_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _run_dir("dpp", sf_dir)
    path = os.path.join(root, "fact")

    ev = load_table(spark, sf_dir, "events")
    # day-keyed exchange: one file per day directory instead of one per
    # (task, day) — see k7_partitioned_write_prune (guide §6 small-files)
    ev.withColumn("day", F.to_date("ts")).repartition("day").write.partitionBy(
        "day"
    ).mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)

    # dim = Filter over an aggregate: DPP-eligible. A scalar-join dim
    # (e.g. n >= avg(n)) is NOT — the rule needs a Filter subtree on the
    # pruning side, and a broadcast-nested-loop dim silently loses the
    # partition filter (verified empirically; see tests/test_plans.py).
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchase"
        ),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
            "n_signup"
        ),
    )
    dim = daily.filter(F.col("n_purchase") >= F.col("n_signup")).select("day")
    return (
        fact.join(F.broadcast(dim), "day")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "total_value",
        )
    )


CONTAIN_T = 0.8


def _containment_oracle() -> str:
    from .dedup_text import _SHINGLE_CTE

    return f"""
    WITH {_SHINGLE_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(n_inter / least(sa.n_sh, sb.n_sh), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / least(sa.n_sh, sb.n_sh), 4) >= {CONTAIN_T}
    """


@register(
    "dedup_containment",
    oracle=_containment_oracle(),
    doc=f"Containment similarity (Broder): |A∩B| / min(|A|,|B|) over the "
    "same word-3-gram shingle universe as the Jaccard/MinHash family — "
    "the asymmetric measure Jaccard MISSES on size-skewed pairs: a short "
    "document fully quoted inside a long one has containment 1.0 but "
    f"Jaccard ≈ |A|/|B| (arbitrarily small). Pairs ≥ {CONTAIN_T} flag "
    "quote/subset duplication for corpus curation (a doc that is mostly "
    "a substring of another adds no training signal). Same shuffle shape "
    "as dedup_ngram_jaccard: one co-shingle equality join + one pair "
    "aggregate — the documented quadratic-in-collisions baseline whose "
    "scale path is the MinHash-LSH candidate filter.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as DD

    d = load_table(spark, sf_dir, "documents")
    sh = DD.shingle_sets(d, "text", "doc_id", 3)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    contain = F.round(
        F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 4
    )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .select("id_a", "id_b", contain.alias("containment"))
        .filter(F.col("containment") >= CONTAIN_T)
    )


_BLOOM_CONFS = {
    # neither side of a 100 TB fact-fact join is broadcastable — model that
    # at test scale by disabling auto-broadcast, and scale the
    # application-side size gate (default 10 GB) down below the smallest
    # testdata scale (sf0.001 lineitem ~100 KB plan estimate)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "32KB",
}


def _bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-join shape InjectRuntimeFilter targets: big probe side
    (lineitem), selectively-filtered build side (orders)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 1000)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_runtime_bloom_filter",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey < 1000
    GROUP BY o_orderpriority
    """,
    doc="Runtime bloom-filter join pruning — the row-level counterpart to "
    "k9's partition-level DPP, for large-large SHUFFLE joins where "
    "neither side broadcasts (the 100 TB fact-fact case; modeled here by "
    "disabling auto-broadcast): Catalyst injects bloom_filter_agg on the "
    "filtered build side and might_contain(l_orderkey) on the probe "
    "side, so most probe rows die at the scan instead of crossing the "
    "shuffle (asserted in tests/test_plans.py). Eligibility found "
    "empirically: the rule declines whenever the build side is "
    "broadcastable — broadcast pruning already covers that case — so the "
    "feature only exists in the no-broadcast regime. Session confs are "
    "restored after in-function materialization; the result is "
    "value-checked against the plain join.",
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import materialize_release

    ensure_session_confs(spark)
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        # materialize UNDER the confs: the runtime filter is injected at
        # optimization time, which a lazy return would defer until after
        # the restore below
        return materialize_release(_bloom_join(spark, sf_dir))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_JOIN_WINDOW_US = 3600 * 1_000_000


@register(
    "stream_stream_left_outer",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    s AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'signup')
    SELECT p.event_id, s.event_id AS signup_event_id
    FROM p LEFT JOIN s
      ON s.user_id = p.user_id
     AND epoch_us(p.ts) - epoch_us(s.ts) BETWEEN 0 AND {_JOIN_WINDOW_US}
    """,
    doc="§2.11 stream-stream LEFT OUTER join with an event-time range "
    "condition: purchases joined to same-user signups within the "
    "preceding hour; a purchase with no such signup must STILL emit "
    "(null-padded) — but only once the watermark proves no future signup "
    "can match. The feed is closed with two heartbeat/punctuation "
    "sentinel rows 4h past max event time (the production end-of-feed "
    "pattern), which push BOTH sides' watermarks beyond every real "
    "purchase, so the drained stream equals the plain batch left join — "
    "hash-checked. Pitfall encoded here: the sentinel filter must run on "
    "the drained BATCH result, never inside the streaming plan, because "
    "Catalyst pushes a left-column predicate below the watermark node "
    "and the sentinel then never advances the watermark (unmatched rows "
    "stay in state forever).",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import uuid

    ensure_session_confs(spark)
    root = _run_dir("sso", sf_dir)
    feed = os.path.join(root, "feed")

    ev = load_table(spark, sf_dir, "events")
    ev.select("event_id", "user_id", "event_type", "ts").write.mode("append").parquet(
        feed
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    sent_ts = mx + datetime.timedelta(hours=4)
    spark.createDataFrame(
        [(-1, -1, "purchase", sent_ts), (-2, -2, "signup", sent_ts)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).write.mode("append").parquet(feed)

    schema = spark.read.parquet(feed).schema

    def stream() -> DataFrame:
        return spark.readStream.schema(schema).parquet(feed)

    p = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    s = (
        stream()
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_event_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    joined = p.join(
        s,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("event_id", "signup_event_id")

    name = f"sso_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # sentinel rows filtered from the BATCH result (see doc: in-stream
    # filtering would be pushed below the watermark node). Sentinel ids are
    # -1/-2 by construction; real event_ids start at 0, so the cut is >= 0.
    return spark.table(name).filter(F.col("event_id") >= 0)


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign random projection (embedding compression)
# ---------------------------------------------------------------------------

JL_IN_DIM = 64
JL_OUT_DIM = 16
JL_SCALE = 10_000  # same quantization as the ANN oracle family


def _jl_signs() -> list[list[int]]:
    """±1 sign matrix [out_dim][in_dim], seeded by md5 of 'jl:i:j'.

    Shipped as literals into BOTH engines (the quantized-planes pattern,
    queries/similarity.py), so the projection is deterministic by
    construction — no cross-engine RNG to reconcile.
    """
    return [
        [
            1 if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1
            for i in range(JL_IN_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


def _jl_project(emb: DataFrame) -> DataFrame:
    """(vec_id, y0..y15): exact-int64 projected coordinates of the
    quantized embedding (q = floor(x·10⁴ + 0.5), y_j = Σᵢ qᵢ·s_ij)."""
    q = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * JL_SCALE + 0.5).cast("long")
    )
    base = emb.select("vec_id", q.alias("q"))
    cols = []
    for j, row in enumerate(_jl_signs()):
        arr = "array(" + ",".join(f"{s}L" for s in row) + ")"
        cols.append(
            F.expr(
                f"aggregate(zip_with(q, {arr}, (a, b) -> a * b), 0L,"
                " (acc, x) -> acc + x)"
            ).alias(f"y{j}")
        )
    return base.select("vec_id", *cols)


def _jl_oracle_y_cte() -> str:
    """CTEs base → y (vec_id, out_dim, yq): one UNION ALL branch per output
    dimension, each an exact-integer list_dot_product against the literal
    sign row (integer-valued doubles ≪ 2^53 stay exact)."""
    branches = "\n      UNION ALL\n".join(
        f"SELECT vec_id, {j} AS out_dim, list_dot_product(q, ["
        + ", ".join(f"{s}.0" for s in row)
        + "]) AS yq FROM base"
        for j, row in enumerate(_jl_signs())
    )
    return f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> floor(x::DOUBLE * {JL_SCALE} + 0.5)) AS q
      FROM embeddings),
    y AS ({branches})"""


# y is scaled back by the quantization factor and the conventional
# 1/sqrt(out_dim) JL normalizer: sqrt(16) = 4 exactly, so the divisor is
# the exact double 40000.0 in both engines.
_JL_DIV = JL_SCALE * 4


@register(
    "embed_random_projection",
    oracle=_jl_oracle_y_cte()
    + f"""
    SELECT vec_id, out_dim, round(yq / {_JL_DIV}.0, 6) AS y FROM y
    """,
    doc="Embedding compression via Johnson-Lindenstrauss SIGN random "
    "projection (Achlioptas 2003): 64-dim float vectors -> 16-dim, "
    "y_j = Σᵢ xᵢ·s_ij / √k with a seeded ±1 matrix shipped as literals. "
    "Entirely JVM-side (zip_with/aggregate folds — one narrow projection, "
    "zero shuffles, no Python), and exact: integer quantization makes "
    "every coordinate int64 arithmetic both engines reproduce bit-for-"
    "bit. The scale story: projection cost is a map over the corpus; "
    "downstream ANN/cluster shuffles then move 4× less vector payload.",
)
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj = _jl_project(emb)
    stack = F.expr(
        f"stack({JL_OUT_DIM}, "
        + ", ".join(f"{j}, y{j}" for j in range(JL_OUT_DIM))
        + ") AS (out_dim, yq)"
    )
    return proj.select("vec_id", stack).select(
        "vec_id", "out_dim", F.round(F.col("yq") / F.lit(float(_JL_DIV)), 6).alias("y")
    )


def _jl_recall_oracle() -> str:
    return (
        _jl_oracle_y_cte()
        + f""",
    pv AS (
      SELECT vec_id, list(yq ORDER BY out_dim) AS pvec FROM y GROUP BY vec_id),
    pq AS (
      SELECT vec_id AS query_id, pvec AS qv FROM pv
      WHERE vec_id IN {tuple(QUERY_IDS)}),
    approx_scored AS (
      SELECT pq.query_id, pv.vec_id AS neighbor_id,
             round(list_cosine_similarity(pq.qv, pv.pvec), 6) AS cos_sim
      FROM pq JOIN pv ON pv.vec_id <> pq.query_id),
    approx_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM approx_scored)
      WHERE rank <= {K}),{_EXACT_TOP.lstrip().rstrip(',')}
    {_RECALL_SELECT}"""
    )


@register(
    "embed_projection_recall",
    oracle=_jl_recall_oracle(),
    doc=f"What the 4× JL compression costs the ANN pipeline: recall@{K} of "
    "the exact top-k computed in the 16-dim PROJECTED space vs the exact "
    "64-dim top-k, per query, in-plan. The projected search reuses "
    "brute_force_topk over the int64 coordinate vectors, so both engines "
    "rank identical integers and the recall VALUES cross-check — the "
    "same harness shape as ann_lsh_recall_at_10.",
)
def embed_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    proj = _jl_project(emb).select(
        "vec_id",
        F.array(*[F.col(f"y{j}").cast("double") for j in range(JL_OUT_DIM)]).alias(
            "pvec"
        ),
    )
    approx = SIM.brute_force_topk(proj, QUERY_IDS, K, vec_col="pvec")
    exact = SIM.brute_force_topk(emb, QUERY_IDS, K)
    return SIM.recall_vs_exact(approx, exact, K)

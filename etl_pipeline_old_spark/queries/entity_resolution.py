"""Registry entries: entity resolution (record linkage) over ``customer``.

The canonical large-scale master-data pipeline the reference approximates
by exact-name joins (project_sync ⟕ ad_user on user_display_name =
display_name, /root/reference/datasets/create_projectsync_dataset.ipynb:72-76):
when the shared key is dirty, exact joins silently drop records, and
linkage becomes blocking → pairwise scoring → transitive clustering →
golden record. Re-expressed Spark-first:

- a deterministic "dirty registry" is derived in-plan from ``customer``
  (half the records gain a variant with one hash-chosen character
  deleted and the balance perturbed ±1 cent) so both engines see the
  identical linkage problem with no synthetic inputs. Clean records get
  ``rec_id = 2·custkey`` and dirty variants ``2·custkey + 1`` — a
  parity split that stays collision-free at ANY table size (an additive
  offset would silently collide once custkey exceeds it) and makes the
  clean record the min id of every true pair, so min-label components
  canonicalize onto clean records;
- multi-pass blocking (exact balance-cents pass + nation × balance-band
  pass) unions candidate keys via ``explode`` — ONE shuffle on the block
  key, candidate count O(N) because both keys are near-unique;
- scoring is all JVM built-ins (``levenshtein``, ``greatest``,
  ``least``) — no Python in the hot path;
- clusters reuse :func:`operators.graph.connected_components` and the
  recursive-CTE oracle shape proven by ``dedup_clusters``.

Scale: at 100 TB the self-join shuffles each record once per blocking
pass; block sizes are bounded by the band width (skew-safe), and the
candidate set — not N² — drives the scoring cost. Known blocking-recall
gap (textbook): a perturbed duplicate whose balance crosses a 100-cent
band boundary is co-blocked by neither pass and stays unlinked
(~2% of dirty records; both engines agree exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..workdir import run_dir
from ..catalog import load_table
from ..operators.dedup import MD5_LONG_SQL, md5_long
from ..operators.graph import connected_components
from ..registry import register

MATCH_THRESHOLD = 0.85
BAL_BAND = 100  # cents per blocking band (pass B)


def is_delta(rec_id: Column) -> Column:
    """Dirty/delta records carry odd rec_ids (2·custkey + 1)."""
    return rec_id % 2 == 1


# ---------------------------------------------------------------------------
# shared builders — Spark side
# ---------------------------------------------------------------------------


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean customers ∪ deterministic dirty variants (hash-seeded)."""
    c = load_table(spark, sf_dir, "customer")
    clean = c.select(
        (F.col("c_custkey") * 2).alias("rec_id"),
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    key = F.col("ck").cast("string")
    dup_sel = md5_long(F.concat(F.lit("dup:"), key)) % 10
    # delete position in [2, len]; greatest() guards the len==1 degenerate
    # case (Spark nulls on %0 where DuckDB errors — keep both off that path)
    p = (
        md5_long(F.concat(F.lit("typo:"), key))
        % F.greatest(F.length("name") - 1, F.lit(1))
        + 2
    )
    d_bal = md5_long(F.concat(F.lit("bal:"), key)) % 3 - 1
    dirty = clean.filter(dup_sel < 5).select(
        (F.col("rec_id") + 1).alias("rec_id"),
        F.concat(
            F.substring(F.col("name"), F.lit(1), p - 1),
            F.substring(F.col("name"), p + 1, F.length("name")),
        ).alias("name"),
        F.col("seg"),
        F.col("nation"),
        (F.col("bal_cents") + d_bal).alias("bal_cents"),
    )
    return clean.drop("ck").unionByName(dirty)


def _block_keys() -> Column:
    """Two blocking passes as an array: exact cents + nation × cents-band."""
    key_a = F.concat_ws("|", F.lit("A"), F.col("seg"), F.col("bal_cents"))
    key_b = F.concat_ws(
        "|",
        F.lit("B"),
        F.col("nation"),
        F.floor(F.col("bal_cents") / F.lit(float(BAL_BAND))),
    )
    return F.array(key_a, key_b)


def _sim_score(left: str, right: str) -> Column:
    """Weighted name/balance similarity between two aliased record sides."""
    name_sim = F.lit(1.0) - F.levenshtein(
        F.col(f"{left}.name"), F.col(f"{right}.name")
    ).cast("double") / F.greatest(F.length(f"{left}.name"), F.length(f"{right}.name"))
    bal_sim = F.lit(1.0) - F.least(
        F.abs(F.col(f"{left}.bal_cents") - F.col(f"{right}.bal_cents")), F.lit(100)
    ) / F.lit(100.0)
    return F.round(F.lit(0.7) * name_sim + F.lit(0.3) * bal_sim, 6)


def _candidates(records: DataFrame) -> DataFrame:
    blocks = records.select("rec_id", F.explode(_block_keys()).alias("bkey"))
    return (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .select(
            F.col("a.rec_id").alias("rec_id_a"),
            F.col("b.rec_id").alias("rec_id_b"),
        )
        .distinct()
    )


def _scored(records: DataFrame) -> DataFrame:
    """Candidates + weighted name/balance similarity (JVM built-ins only)."""
    return (
        _candidates(records)
        .join(records.alias("ra"), F.col("ra.rec_id") == F.col("rec_id_a"))
        .join(records.alias("rb"), F.col("rb.rec_id") == F.col("rec_id_b"))
        .select("rec_id_a", "rec_id_b", _sim_score("ra", "rb").alias("score"))
    )


def _matched(records: DataFrame) -> DataFrame:
    return _scored(records).filter(F.col("score") >= MATCH_THRESHOLD)


# ---------------------------------------------------------------------------
# shared builders — DuckDB oracle side (mirror the Spark expressions exactly;
# concat_ws both sides so NULL slots are skipped identically)
# ---------------------------------------------------------------------------

_RECORDS_CTE = f"""
    clean AS (
      SELECT c_custkey * 2 AS rec_id,
             c_custkey AS ck,
             c_name AS name,
             c_mktsegment AS seg,
             c_nationkey AS nation,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer),
    seeded AS (
      SELECT *,
             {MD5_LONG_SQL.format(x="'dup:' || ck::VARCHAR")} % 10 AS dup_sel,
             {MD5_LONG_SQL.format(x="'typo:' || ck::VARCHAR")}
               % greatest(length(name) - 1, 1) + 2 AS p,
             {MD5_LONG_SQL.format(x="'bal:' || ck::VARCHAR")} % 3 - 1 AS d_bal
      FROM clean),
    records AS (
      SELECT rec_id, name, seg, nation, bal_cents FROM clean
      UNION ALL
      SELECT rec_id + 1,
             substr(name, 1, p - 1) || substr(name, p + 1),
             seg, nation, bal_cents + d_bal
      FROM seeded WHERE dup_sel < 5)"""

_BKEY_A_SQL = "concat_ws('|', 'A', seg, bal_cents::VARCHAR)"
_BKEY_B_SQL = (
    "concat_ws('|', 'B', nation::VARCHAR, "
    f"CAST(floor(bal_cents / {float(BAL_BAND)}) AS BIGINT)::VARCHAR)"
)


def _blocks_sql(src: str) -> str:
    return f"""(
      SELECT rec_id, {_BKEY_A_SQL} AS bkey FROM {src}
      UNION ALL
      SELECT rec_id, {_BKEY_B_SQL} FROM {src})"""


def _score_sql(a: str, b: str) -> str:
    return f"""round(0.7 * (1.0 - levenshtein({a}.name, {b}.name)::DOUBLE
                      / greatest(length({a}.name), length({b}.name)))
           + 0.3 * (1.0 - least(abs({a}.bal_cents - {b}.bal_cents), 100)
                      / 100.0), 6)"""


_CAND_CTE = f"""
    blocks AS (SELECT * FROM {_blocks_sql("records")}),
    cand AS (
      SELECT DISTINCT a.rec_id AS rec_id_a, b.rec_id AS rec_id_b
      FROM blocks a JOIN blocks b
        ON a.bkey = b.bkey AND a.rec_id < b.rec_id)"""

_SCORED_CTE = f"""
    scored AS (
      SELECT c.rec_id_a, c.rec_id_b, {_score_sql("ra", "rb")} AS score
      FROM cand c
      JOIN records ra ON ra.rec_id = c.rec_id_a
      JOIN records rb ON rb.rec_id = c.rec_id_b)"""

_MATCHED_CTE = f"""
    matched AS (SELECT * FROM scored WHERE score >= {MATCH_THRESHOLD})"""

_COMP_CTE = """
    edges AS (
      SELECT rec_id_a AS u, rec_id_b AS v FROM matched
      UNION SELECT rec_id_b, rec_id_a FROM matched),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach (node, target) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON r.target = e.u),
    comp AS (SELECT node, min(target) AS component FROM reach GROUP BY node)"""


# ---------------------------------------------------------------------------
# registry entries
# ---------------------------------------------------------------------------


@register(
    "er_blocking_pairs",
    oracle=f"""
    WITH {_RECORDS_CTE},{_CAND_CTE}
    SELECT rec_id_a, rec_id_b FROM cand
    """,
    doc="ER step 1 — multi-pass blocking: exact balance-cents pass ∪ "
    "nation × 100-cent-band pass, explode(block keys) + self-join on the "
    "key, distinct ordered pairs. One shuffle; candidate count O(N) "
    "because both keys are near-unique. The dirty registry (half the "
    "customers gain a one-char-deleted, ±1-cent variant at rec_id "
    "2·custkey+1) is derived in-plan with portable md5 arithmetic, so "
    "the oracle sees the identical problem.",
)
def er_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _candidates(_records(spark, sf_dir))


@register(
    "er_pairwise_match",
    oracle=f"""
    WITH {_RECORDS_CTE},{_CAND_CTE},{_SCORED_CTE}
    SELECT rec_id_a, rec_id_b, score FROM scored
    WHERE score >= {MATCH_THRESHOLD}
    """,
    doc="ER step 2 — pairwise scoring of blocked candidates: "
    "0.7·(1 − levenshtein/len) + 0.3·(1 − |Δbal|/100), threshold 0.85. "
    "All JVM built-ins (levenshtein/greatest/least) over the candidate "
    "set only — never N². Rounded to 6dp so the value hash is "
    "engine-stable.",
)
def er_pairwise_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import materialize_release

    # the derived registry is referenced 4× by the blocking + scoring
    # pipeline (both block arms, then ra/rb); persist it so the customer
    # scan + md5 derivation run ONCE, and release the cache right after
    # the one materialization job (r15, closing r14 verdict #5 — the plan
    # lock in test_plans now intercepts the pre-materialization frame via
    # the same monkeypatch recipe as er_golden_record, so JVM purity of
    # the scoring plan stays asserted).
    records = _records(spark, sf_dir).persist()
    return materialize_release(_matched(records), records)


@register(
    "er_entity_clusters",
    oracle=f"""
    WITH RECURSIVE {_RECORDS_CTE},{_CAND_CTE},{_SCORED_CTE},{_MATCHED_CTE},{_COMP_CTE}
    SELECT node, component FROM comp
    """,
    doc="ER step 3 — transitive closure of matched pairs via min-label "
    "propagation (operators/graph.py connected_components), checked "
    "against a recursive-CTE reachability oracle. Chains (A~B~C with no "
    "direct A~C match) collapse into one entity — the reason linkage "
    "needs components, not just pairs. Clean rec_ids (even, smaller) "
    "become the component labels of their pairs by construction.",
)
def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the derived registry is referenced 4× by the blocking + scoring
    # pipeline — persist it for the one eager edge-checkpoint job and
    # release immediately after (nothing downstream reads it), r14
    records = _records(spark, sf_dir).persist()
    # materialize the (match-pair-sized) edge list before the components
    # loop: connected_components unions its input twice to symmetrize, so
    # a lazy edge frame runs the WHOLE blocking + levenshtein-scoring
    # pipeline twice inside the adjacency build (r14)
    m = (
        _matched(records)
        .select("rec_id_a", "rec_id_b")
        .localCheckpoint(eager=True)
    )
    records.unpersist()
    # matched pairs are row-distinct with rec_id_a < rec_id_b (candidates
    # are a distinct ordered self-join) — skip CC's input dedup (r15)
    return connected_components(m, src="rec_id_a", dst="rec_id_b", edges_distinct=True)


_INC_LINK_ORACLE = f"""
    WITH {_RECORDS_CTE},
    base AS (SELECT * FROM records WHERE rec_id % 2 = 0),
    delta AS (SELECT * FROM records WHERE rec_id % 2 = 1),
    bblocks AS (SELECT * FROM {_blocks_sql("base")}),
    dblocks AS (SELECT * FROM {_blocks_sql("delta")}),
    cand AS (
      SELECT DISTINCT d.rec_id AS rec_id, b.rec_id AS base_rec_id
      FROM dblocks d JOIN bblocks b ON d.bkey = b.bkey),
    scored AS (
      SELECT c.rec_id, c.base_rec_id, {_score_sql("rd", "rb")} AS score
      FROM cand c
      JOIN delta rd ON rd.rec_id = c.rec_id
      JOIN base rb ON rb.rec_id = c.base_rec_id),
    best AS (
      SELECT rec_id, base_rec_id, score FROM (
        SELECT *, row_number() OVER (
          PARTITION BY rec_id ORDER BY score DESC, base_rec_id) AS rn
        FROM scored WHERE score >= {MATCH_THRESHOLD})
      WHERE rn = 1)
    SELECT d.rec_id,
           b.base_rec_id AS matched_rec_id,
           b.score,
           b.base_rec_id IS NULL AS is_new
    FROM delta d LEFT JOIN best b ON b.rec_id = d.rec_id
    """


@register(
    "er_incremental_link",
    oracle=_INC_LINK_ORACLE,
    doc="ER incremental path — link a DELTA batch (the dirty variants, "
    "standing in for newly arriving records) against the clean BASE "
    "master: same two-pass blocking and scoring, then best-match-per-"
    "delta-record via row_number (ties broken by base id), unmatched "
    "marked is_new. No clustering and no delta×delta work — the shape a "
    "foreachBatch MDM sink runs per micro-batch; base blocks are a "
    "pre-built index at 100 TB, so each batch costs O(|delta| × "
    "block-occupancy).",
)
def er_incremental_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = _records(spark, sf_dir)
    base = records.filter(~is_delta(F.col("rec_id")))
    delta = records.filter(is_delta(F.col("rec_id")))
    return link_delta(delta, base)


def link_delta(delta: DataFrame, base: DataFrame) -> DataFrame:
    """Best-match linkage of a delta record set against the base master —
    the unit of work a foreachBatch MDM sink runs per micro-batch."""
    bblocks = base.select("rec_id", F.explode(_block_keys()).alias("bkey"))
    dblocks = delta.select("rec_id", F.explode(_block_keys()).alias("bkey"))
    cand = (
        dblocks.alias("d")
        .join(bblocks.alias("b"), F.col("d.bkey") == F.col("b.bkey"))
        .select(
            F.col("d.rec_id").alias("rec_id"),
            F.col("b.rec_id").alias("base_rec_id"),
        )
        .distinct()
    )
    scored = (
        cand.alias("c")
        .join(delta.alias("rd"), F.col("rd.rec_id") == F.col("c.rec_id"))
        .join(base.alias("rb"), F.col("rb.rec_id") == F.col("c.base_rec_id"))
        .select(
            F.col("c.rec_id").alias("rec_id"),
            F.col("c.base_rec_id").alias("base_rec_id"),
            _sim_score("rd", "rb").alias("score"),
        )
    )
    w = W.partitionBy("rec_id").orderBy(F.desc("score"), F.asc("base_rec_id"))
    best = (
        scored.filter(F.col("score") >= MATCH_THRESHOLD)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("rec_id", "base_rec_id", "score")
    )
    return (
        delta.select("rec_id")
        .join(best, "rec_id", "left")
        .select(
            "rec_id",
            F.col("base_rec_id").alias("matched_rec_id"),
            "score",
            F.col("base_rec_id").isNull().alias("is_new"),
        )
    )


@register(
    "er_golden_record",
    oracle=f"""
    WITH RECURSIVE {_RECORDS_CTE},{_CAND_CTE},{_SCORED_CTE},{_MATCHED_CTE},{_COMP_CTE},
    assigned AS (
      SELECT r.rec_id, r.name, r.bal_cents,
             coalesce(c.component, r.rec_id) AS entity_id
      FROM records r LEFT JOIN comp c ON c.node = r.rec_id)
    SELECT entity_id,
           count(*)::BIGINT AS n_records,
           arg_min(name, rec_id) AS canonical_name,
           (max(bal_cents) - min(bal_cents))::BIGINT AS bal_cents_span
    FROM assigned GROUP BY entity_id
    """,
    doc="ER step 4 — golden record: every record joins its component "
    "(singletons stay their own entity via coalesce), then one grouped "
    "aggregate emits the surviving entity: min-rec_id canonical name "
    "(min_by ↔ arg_min) and the balance span across merged records. "
    "Output size = #entities. comp is match-pair-sized (≪ registry) and "
    "explicitly broadcast, so the assignment join never shuffles the "
    "registry; drop the hint if match volume ever approaches registry "
    "size.",
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import materialize_release

    # the derived dirty registry is referenced FIVE times in this query
    # (blocking self-join ×2, scoring ×2, golden-record assignment ×1) —
    # persist it so the union + md5 seeding runs once (r14, guide §5:
    # reuse > recompute here at any scale); released with the result via
    # materialize_release, the repo's standard cache-lifetime pattern
    records = _records(spark, sf_dir).persist()
    # eager checkpoint of the (tiny) match edge list: see er_entity_clusters
    # — without it the blocking + scoring pipeline evaluates twice inside
    # connected_components' symmetrizing union (r14)
    comp = connected_components(
        _matched(records)
        .select("rec_id_a", "rec_id_b")
        .localCheckpoint(eager=True),
        src="rec_id_a",
        dst="rec_id_b",
        # distinct ordered match pairs — skip CC's input dedup (r15)
        edges_distinct=True,
    )
    # localCheckpoint output has no size stats — hint the broadcast the doc
    # promises (comp ≤ 2 × matched pairs, always dwarfed by the registry)
    assigned = records.join(
        F.broadcast(comp), records["rec_id"] == comp["node"], "left"
    ).withColumn("entity_id", F.coalesce(F.col("component"), F.col("rec_id")))
    golden = assigned.groupBy("entity_id").agg(
        F.count("*").alias("n_records"),
        F.min_by("name", "rec_id").alias("canonical_name"),
        (F.max("bal_cents") - F.min("bal_cents")).alias("bal_cents_span"),
    )
    return materialize_release(golden, records)


@register(
    "stream_er_incremental_link",
    oracle=_INC_LINK_ORACLE,
    doc="STREAMING MDM: the delta registry arrives as a 2-micro-batch "
    "parquet feed; foreachBatch runs link_delta (the same blocking + "
    "scoring + best-match unit as er_incremental_link) against the "
    "static base master and appends each batch's links to the target. "
    "Linkage is per-delta-record independent, so the union over ANY "
    "batching equals the batch answer — the associativity the shared "
    "oracle checks. The composition pattern for a live MDM feed: "
    "pre-built base block index + per-batch probe, pairing with "
    "stream_scd2_apply for history maintenance.",
)
def stream_er_incremental_link(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..session import ensure_session_confs

    ensure_session_confs(spark)
    records = _records(spark, sf_dir)
    base = records.filter(~is_delta(F.col("rec_id")))
    delta = records.filter(is_delta(F.col("rec_id")))

    feed, target, chk = (
        run_dir(f"er_{part}", sf_dir) for part in ("feed", "target", "chk")
    )
    delta.repartition(2).write.parquet(feed)

    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # 2+ micro-batches
        .parquet(feed)
    )

    def link_batch(batch_df: DataFrame, batch_id: int) -> None:
        link_delta(batch_df, base).write.mode("append").parquet(target)

    q = (
        stream.writeStream.foreachBatch(link_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(target)


@register(
    "pipeline_mdm",
    oracle=f"""
    WITH RECURSIVE {_RECORDS_CTE},{_CAND_CTE},{_SCORED_CTE},{_MATCHED_CTE},{_COMP_CTE},
    assigned AS (
      SELECT r.rec_id, coalesce(c.component, r.rec_id) AS entity_id
      FROM records r LEFT JOIN comp c ON c.node = r.rec_id),
    ent AS (SELECT entity_id, count(*) AS n FROM assigned GROUP BY entity_id),
    base AS (SELECT * FROM records WHERE rec_id % 2 = 0),
    delta AS (SELECT * FROM records WHERE rec_id % 2 = 1),
    bblocks AS (SELECT * FROM {_blocks_sql("base")}),
    dblocks AS (SELECT * FROM {_blocks_sql("delta")}),
    icand AS (
      SELECT DISTINCT d.rec_id AS rec_id, b.rec_id AS base_rec_id
      FROM dblocks d JOIN bblocks b ON d.bkey = b.bkey),
    iscored AS (
      SELECT c.rec_id, c.base_rec_id, {_score_sql("rd", "rb")} AS score
      FROM icand c
      JOIN delta rd ON rd.rec_id = c.rec_id
      JOIN base rb ON rb.rec_id = c.base_rec_id),
    ibest AS (
      SELECT rec_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY rec_id ORDER BY score DESC, base_rec_id) AS rn
        FROM iscored WHERE score >= {MATCH_THRESHOLD})
      WHERE rn = 1)
    SELECT (SELECT count(*) FROM records)::BIGINT AS n_records,
           (SELECT count(*) FROM ent)::BIGINT AS n_entities,
           (SELECT count(*) FROM ent WHERE n > 1)::BIGINT AS n_merged_entities,
           (SELECT count(*) FROM ibest)::BIGINT AS n_delta_matched,
           (SELECT count(*) FROM delta)::BIGINT
             - (SELECT count(*) FROM ibest)::BIGINT AS n_delta_new
    """,
    doc="MDM capstone: the full master-build (blocking → scoring → "
    "clusters → golden entities) AND the incremental delta linkage run "
    "as ONE audited summary — registry size, entity count, merged-entity "
    "count, and the delta batch's matched/new split. The one-row audit a "
    "master-data job publishes per run; every number cross-checks the "
    "composed CTE oracle.",
)
def pipeline_mdm(spark: SparkSession, sf_dir: str) -> DataFrame:
    records = _records(spark, sf_dir)
    golden = er_golden_record(spark, sf_dir)
    link = er_incremental_link(spark, sf_dir)

    n_records = records.agg(F.count("*").alias("n_records"))
    ent = golden.agg(
        F.count("*").alias("n_entities"),
        F.sum((F.col("n_records") > 1).cast("long")).alias("n_merged_entities"),
    )
    delta_stats = link.agg(
        F.sum((~F.col("is_new")).cast("long")).alias("n_delta_matched"),
        F.sum(F.col("is_new").cast("long")).alias("n_delta_new"),
    )
    return (
        n_records.crossJoin(F.broadcast(ent))
        .crossJoin(F.broadcast(delta_stats))
        .select(
            "n_records",
            "n_entities",
            "n_merged_entities",
            "n_delta_matched",
            "n_delta_new",
        )
    )

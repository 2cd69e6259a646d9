"""Curation + stats operators, wave 3: exact-substring span dedup with
document reconstruction (the Lee et al. 2022 "deduplicating training data"
shape), quality-aware dedup apply, per-source distribution drift (KL
divergence), regression/correlation aggregates, time-range window frames,
incremental delta-vs-base dedup, the rollup cascade + HLL sketch serving
patterns, grouping sets, stream-static enrich, the streaming corpus
capstone, an applyInArrow grouped map, and the full-outer snapshot diff.

Apart from the two Python extension-point demos (applyInArrow, foreachBatch
merge) everything is pure relational shapes — no Python in the hot path —
and every entry is value-oracle-checked against DuckDB. Reference
provenance: the reference pipeline has no corpus curation (these extend
SURVEY.md §2's LLM-pipeline family); the stats aggregates generalize its
groupby-mean notebooks (/root/reference/datasets/create_scripts_dataset.ipynb
aggregate cells) to the full ANSI regression-aggregate surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..workdir import run_dir
from ..catalog import load_table
from ..operators import dedup as DD
from ..operators.graph import connected_components
from ..registry import register
from .dedup_text import NORM, _minhash_oracle

# span length for exact-substring dedup: at testdata vocabulary (~30 words)
# 5-grams mark a real-but-bounded duplicate set (~4.6% of spans, 36 docs at
# sf0.01); 4-grams over-flag, 6-grams degenerate to near-identical docs only
SPAN_K = 5


@register(
    "dedup_span_reconstruct",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({NORM}, ' ') AS toks FROM documents),
    t AS (
      SELECT doc_id, i AS pos, toks[i] AS tok
      FROM tok, UNNEST(generate_series(1, len(toks))) u(i)),
    g AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(toks, i, i + {SPAN_K - 1}), ' ') AS gram
      FROM tok, UNNEST(generate_series(1, greatest(len(toks) - {SPAN_K - 1}, 0))) u(i)),
    r AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      FROM g),
    cov AS (
      SELECT DISTINCT doc_id, pos + j AS pos
      FROM r, UNNEST(generate_series(0, {SPAN_K - 1})) v(j)
      WHERE rn > 1),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
      WHERE c.doc_id IS NULL),
    rec AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(rec.clean_text, '') AS clean_text,
           len(string_split({NORM}, ' ')) - coalesce(rec.n_kept, 0) AS n_removed
    FROM documents d LEFT JOIN rec ON d.doc_id = rec.doc_id
    """,
    doc=f"Exact-substring span dedup WITH reconstruction (Lee et al. 2022): "
    f"every word-{SPAN_K}-gram keeps only its globally first occurrence "
    "(ordered by doc_id, position); later occurrences mark their token span "
    "for removal, and each document is re-assembled from surviving tokens. "
    "One wide shuffle (window over gram — same key a groupBy would use); "
    "reconstruction is a per-doc sort-aggregate. At 100 TB the gram window "
    "runs bucketed by gram hash and the rest stays embarrassingly parallel "
    "— no all-pairs stage anywhere.",
)
def dedup_span_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # tokenize in a SEPARATE projection (generator re-evaluation, see
    # operators/dedup.py:105) — 1-based positions to match DuckDB list_slice
    toks = d.select("doc_id", F.split(DD.normalize_text("text"), " ").alias("__toks"))
    t = toks.select(
        "doc_id", F.posexplode("__toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    positions = F.explode(
        F.when(
            F.size("__toks") >= SPAN_K,
            F.sequence(F.lit(1), F.size("__toks") - (SPAN_K - 1)),
        ).otherwise(F.array().cast("array<int>"))
    )
    g = toks.select("doc_id", "__toks", positions.alias("pos")).select(
        "doc_id", "pos", F.concat_ws(" ", F.slice("__toks", F.col("pos"), SPAN_K)).alias("gram")
    )
    rn = F.row_number().over(W.partitionBy("gram").orderBy("doc_id", "pos"))
    dup = g.withColumn("rn", rn).filter(F.col("rn") > 1)
    covered = dup.select(
        "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + SPAN_K - 1)).alias("pos")
    ).distinct()
    kept = t.join(covered, ["doc_id", "pos"], "left_anti")
    rec = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        d.select("doc_id", F.size(F.split(DD.normalize_text("text"), " ")).alias("__n"))
        .join(rec, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("__n") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


@register(
    "dedup_apply_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_minhash_oracle()})
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach (node, target) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON r.target = e.u),
    comp AS (SELECT node, min(target) AS component FROM reach GROUP BY node),
    ranked AS (
      SELECT c.node,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.node) AS rn
      FROM comp c JOIN documents d ON c.node = d.doc_id),
    losers AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM losers)
    """,
    doc="Quality-aware dedup APPLY: near-dup clusters keep their HIGHEST-"
    "QUALITY member (longest doc, tie-broken by id) instead of the min-id "
    "canonical — the production keep-best policy (RefinedWeb/FineWeb keep "
    "the longer duplicate). Same pairs → components machinery as "
    "dedup_apply; the keeper choice is one row_number window per component.",
)
def dedup_apply_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_dedup(d, "text", "doc_id").select("id_a", "id_b")
    # distinct a<b pairs, already checkpointed — skip CC's input dedup (r15)
    comp = connected_components(pairs, edges_distinct=True)
    members = comp.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("node"))
    losers = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(F.col("node").alias("doc_id"))
    )
    return d.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


@register(
    "corpus_kl_by_source",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split({NORM}, ' ')) AS term FROM documents),
    st AS (SELECT source, term, count(*) AS c_s FROM tok GROUP BY 1, 2),
    gt AS (SELECT term, count(*) AS c_g FROM tok GROUP BY 1),
    ns AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
    ng AS (SELECT count(*) AS n_g FROM tok)
    SELECT st.source,
           max(ns.n_s) AS n_tokens,
           round(sum((c_s::DOUBLE / ns.n_s)
                     * ln((c_s::DOUBLE / ns.n_s) / (c_g::DOUBLE / ng.n_g))), 6)
             AS kl_nats
    FROM st
    JOIN ns ON st.source = ns.source
    JOIN gt ON st.term = gt.term
    CROSS JOIN ng
    GROUP BY st.source
    """,
    doc="Distribution drift per source: KL(P_source ‖ P_corpus) over the "
    "unigram token distribution — the mixture-monitoring statistic a "
    "training-data pipeline tracks per shard/source (cf. DoReMi/DSIR domain "
    "weighting). Two partial-aggregated token counts + one broadcast join; "
    "the global total is an aggregated sub-plan (broadcast), NOT a driver "
    "action, so the whole statistic is one declarative plan.",
)
def corpus_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(DD.normalize_text("text"), " ")).alias("term")
    )
    st = tok.groupBy("source", "term").agg(F.count("*").alias("c_s"))
    gt = tok.groupBy("term").agg(F.count("*").alias("c_g"))
    ns = tok.groupBy("source").agg(F.count("*").alias("n_s"))
    ng = gt.agg(F.sum("c_g").alias("n_g"))
    p = F.col("c_s") / F.col("n_s")
    q = F.col("c_g") / F.col("n_g")
    return (
        st.join(F.broadcast(ns), "source")
        .join(F.broadcast(gt), "term")
        .crossJoin(F.broadcast(ng))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"),
        )
    )


@register(
    "stats_corr_regression",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_price_qty,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="ANSI regression/correlation aggregates per group: corr, "
    "covar_samp, regr_slope/intercept/r2 of extendedprice on quantity — "
    "single-pass partial-aggregable moments (each is algebra over "
    "Σx, Σy, Σxy, Σx², Σy², n), so the plan is one map-side-combined "
    "shuffle exactly like a SUM. Ratio statistics are rounded at 6dp, "
    "magnitude statistics at 2-4dp, so cross-engine summation order "
    "cannot flip the value hash.",
)
def stats_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_price_qty"),
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 2).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
    )


HOUR_US = 3_600_000_000


@register(
    "window_range_1h_movstats",
    oracle=f"""
    SELECT event_id,
           count(*) OVER w AS n_1h,
           round(avg(value) OVER w, 6) AS avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
    """,
    doc="Time-range window frame: per-user trailing-1-hour event count and "
    "mean value via RANGE BETWEEN on epoch micros — the value-based frame "
    "(vs ROWS) that makes 'last hour' exact regardless of event density. "
    "RANGE peers (equal timestamps) are included identically in both "
    "engines, so the result is deterministic. One shuffle on user_id; the "
    "frame scan is a per-partition sorted sliding aggregate.",
)
def window_range_1h_movstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-HOUR_US, 0)
    )
    return e.select(
        "event_id",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.avg("value").over(w), 6).alias("avg_1h"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: probe a new shard against the existing corpus index
# ---------------------------------------------------------------------------

DELTA_MOD = 5  # doc_id % 5 == 0 plays the "newly arrived shard" (~20%)

# wall-second components of the most recent incremental_probe_matches_bronze
# call (shingle cache / one-shot bronze index build / recurring delta
# probe). Read by bench.py so pipeline_corpus_refresh's headline number is
# attributable to build-vs-probe instead of argued (r6 verdict #3).
LAST_TIMINGS: dict[str, float] = {}


def _incremental_cte(thr: float = 0.5) -> str:
    """CTE prefix shared with pipeline_corpus_refresh: shingles -> minhash
    signatures -> bands -> delta-vs-(base ∪ earlier-delta) candidates ->
    verified near-dup ``matches(id_d, id_o)``."""
    from .dedup_text import _SHINGLE_CTE

    base = DD.MD5_INT32_SQL.format(x="sh")
    mins = ",\n         ".join(
        f"min(({a} * {base} + {b}) % {DD.MINHASH_PRIME}) AS h{i}"
        for i, (a, b) in enumerate(DD.minhash_seeds(16))
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=bid, key="||','||".join(f"h{bid * 4 + r}::VARCHAR" for r in range(4))
        )
        for bid in range(4)
    )
    return f"""
    WITH {_SHINGLE_CTE},
    sig AS (
      SELECT doc_id,
         {mins}
      FROM sh GROUP BY doc_id),
    banded AS ({band_rows}),
    cand AS (
      SELECT DISTINCT d.doc_id AS id_d, o.doc_id AS id_o
      FROM banded d JOIN banded o
        ON d.band = o.band AND d.bkey = o.bkey
       AND d.doc_id % {DELTA_MOD} = 0
       AND (o.doc_id % {DELTA_MOD} <> 0 OR o.doc_id < d.doc_id)
       AND o.doc_id <> d.doc_id),
    inter AS (
      SELECT c.id_d, c.id_o, count(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_d
      JOIN sh b ON b.doc_id = c.id_o AND b.sh = a.sh
      GROUP BY 1, 2),
    matches AS (
      SELECT i.id_d, i.id_o
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_d
      JOIN sizes sb ON sb.doc_id = i.id_o
      WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= {thr})"""


def _incremental_oracle(thr: float = 0.5) -> str:
    return _incremental_cte(thr) + f"""
    SELECT doc_id,
           CASE WHEN matched_id IS NULL THEN 'keep' ELSE 'drop' END AS action,
           matched_id
    FROM (
      SELECT d.doc_id, min(m.id_o) AS matched_id
      FROM (SELECT doc_id FROM documents WHERE doc_id % {DELTA_MOD} = 0) d
      LEFT JOIN matches m ON m.id_d = d.doc_id
      GROUP BY d.doc_id)
    """


@register(
    "dedup_incremental_probe",
    oracle=_incremental_oracle(),
    doc="Incremental near-dedup: a newly arrived shard (doc_id % 5 == 0 "
    "stands in for the delta) probes the EXISTING corpus's LSH band index "
    "plus earlier-id docs within its own shard; verified matches (exact "
    "Jaccard >= 0.5) mark the delta doc 'drop' with its lowest matched id. "
    "The production corpus-refresh shape: probing an existing band index "
    "costs O(delta x collisions), never a corpus rescan, so daily refresh "
    "work scales with the NEW data, not the 100 TB accumulated corpus "
    "(this entry probes an in-session persisted index and carries the "
    "keep/drop POLICY; dedup_bronze_delta_probe in dedup_text.py is the "
    "physical-layout half — the base index as the on-disk (band, bkey)-"
    "bucketed bronze table, only the delta shuffling). Policy: "
    "a delta doc is dropped if it matches base or ANY smaller-id delta doc "
    "(batch-delta semantics — deterministic, no sequential dependency).",
)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # LAZY persist: banded.count() below evaluates the signature over sh
    # and fills this cache in passing; the verify's references run after
    # it (see minhash_lsh_dedup — one fewer materialization job, r14)
    sh = DD.shingle_sets(d, "text", "doc_id").persist()
    # with_count: n_sh rides the banding into SIZED candidates, so the
    # verify skips its sizes re-shuffle of the shingle relation (r14; see
    # jaccard_pairs)
    banded = DD.lsh_bands(DD.minhash_signatures(sh, with_count=True)).persist()
    banded.count()  # eager: probe consumes the banding twice
    is_delta = F.col("id") % DELTA_MOD == 0
    delta_b = banded.filter(is_delta).select(
        F.col("id").alias("id_d"), F.col("n_sh").alias("n_a"), "band", "bkey"
    )
    other_b = banded.select(
        F.col("id").alias("id_o"), F.col("n_sh").alias("n_b"), "band", "bkey"
    )
    cand = (
        delta_b.join(other_b, ["band", "bkey"])
        .filter(
            (
                (F.col("id_o") % DELTA_MOD != 0) | (F.col("id_o") < F.col("id_d"))
            )
            & (F.col("id_o") != F.col("id_d"))
        )
        .select(
            F.col("id_d").alias("id_a"), F.col("id_o").alias("id_b"), "n_a", "n_b"
        )
        .distinct()
    )
    # the candidate set stays LAZY (r14): it feeds exactly one consumer
    # (the verify join), and the former localCheckpoint bought no plan
    # advantage — a checkpointed LogicalRDD carries no size stats, so the
    # "known-small broadcast side" rationale never actually fired; AQE
    # picks the broadcast at runtime either way. Dropping it saves one
    # full job per probe; the band cache now releases with the result.
    matches = (
        DD.jaccard_pairs(sh, candidates=cand)
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("id_a").alias("id_d"), F.col("id_b").alias("id_o"))
    )
    delta_docs = d.filter(F.col("doc_id") % DELTA_MOD == 0).select("doc_id")
    out = (
        delta_docs.join(matches, delta_docs["doc_id"] == matches["id_d"], "left")
        .groupBy("doc_id")
        .agg(F.min("id_o").alias("matched_id"))
        .select(
            "doc_id",
            F.when(F.col("matched_id").isNull(), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("action"),
            "matched_id",
        )
    )
    return DD.materialize_release(out, sh, banded)


def incremental_probe_matches_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, matched_id) for the delta shard — same batch-delta
    semantics as :func:`dedup_incremental_probe` (match base or ANY
    smaller-id delta doc), but probing the ON-DISK (band, bkey)-bucketed
    bronze base index (dedup_text.write_bronze_bands) instead of an
    in-session persisted banding — the 100 TB refresh path (r5 verdict
    #7): the base index amortizes across refreshes, and the delta banding
    is shuffled to the bucket spec exactly ONCE — a persisted
    repartition(BUCKETS, band, bkey) whose HashPartitioning satisfies the
    join distribution of BOTH consumers (the base-index SortMergeJoin,
    whose other side is the bucketed scan with no Exchange above it, and
    the intra-delta self-join) — so no join ever re-shuffles the banding.
    Plan-locked in
    tests/test_storage_layout.py::test_refresh_probe_shuffles_only_the_delta.
    """
    import os
    import time

    from ..workdir import reap_warehouse, table_name
    from .dedup_text import BRONZE_BUCKETS, write_bronze_bands

    t_sh = time.perf_counter()
    d = load_table(spark, sf_dir, "documents")
    # LAZY persist: the bronze write below evaluates the banding over sh
    # and fills this cache in passing (one fewer materialization job,
    # r14); the delta banding and the verify read the populated cache
    sh = DD.shingle_sets(d, "text", "doc_id").persist()
    # with_count: n_sh rides the banding — INTO the bronze index (one
    # BIGINT per band row; every future probe's verify needs exactly this
    # value) and through the delta banding, so the verify below skips its
    # sizes re-shuffle of the shingle relation (r14; see jaccard_pairs)
    banded = DD.lsh_bands(DD.minhash_signatures(sh, with_count=True))
    is_delta = F.col("id") % DELTA_MOD == 0

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    reap_warehouse(spark)
    t = table_name(f"bronze_refresh_{tag}")
    delta_b = None
    try:
        t_build = time.perf_counter()
        write_bronze_bands(spark, banded.filter(~is_delta), t)
        t_probe = time.perf_counter()
        # ONE shuffle of the delta banding to the index's bucket spec; the
        # persist pins the shuffled blocks so both consumer joins read the
        # cache (InMemoryTableScan reports the repartition's partitioning,
        # so neither join plans its own band Exchange)
        delta_b = (
            banded.filter(is_delta)
            .select(F.col("id").alias("id_d"), F.col("n_sh").alias("n_d"), "band", "bkey")
            .repartition(BRONZE_BUCKETS, "band", "bkey")
            .persist()
        )
        delta_b.count()  # eager: deterministic cache hits for both joins
        base_b = spark.table(t).select(
            F.col("id").alias("id_o"), F.col("n_sh").alias("n_o"), "band", "bkey"
        )
        cand_base = delta_b.hint("merge").join(base_b, ["band", "bkey"]).select(
            "id_d", "id_o", "n_d", "n_o"
        )
        cand_intra = (
            delta_b.hint("merge")
            .join(
                delta_b.select(
                    F.col("id_d").alias("id_o"), F.col("n_d").alias("n_o"), "band", "bkey"
                ),
                ["band", "bkey"],
            )
            .filter(F.col("id_o") < F.col("id_d"))
            .select("id_d", "id_o", "n_d", "n_o")
        )
        cand = (
            cand_base.union(cand_intra)
            .distinct()
            .select(
                F.col("id_d").alias("id_a"),
                F.col("id_o").alias("id_b"),
                F.col("n_d").alias("n_a"),
                F.col("n_o").alias("n_b"),
            )
        )
        matches = (
            DD.jaccard_pairs(sh, candidates=cand)
            .filter(F.col("jaccard") >= 0.5)
            .select(F.col("id_a").alias("id_d"), F.col("id_b").alias("id_o"))
        )
        out = (
            d.filter(F.col("doc_id") % DELTA_MOD == 0)
            .select("doc_id")
            .join(matches, F.col("doc_id") == F.col("id_d"), "left")
            .groupBy("doc_id")
            .agg(F.min("id_o").alias("matched_id"))
        )
        # eager: must complete before the finally drops the bronze table
        res = DD.materialize_release(out, sh, delta_b)
        # component attribution (r6 verdict #3): the one-shot index-build
        # cost vs the recurring delta-probe cost, so the amortized number
        # a 100 TB operator cares about is visible in the bench JSON.
        # r14 NOTE: the shingle cache fills lazily inside the bronze
        # write now (its dedicated materialization job is gone), so
        # shingle_s measures only plan construction and bronze_build_s
        # absorbs the one corpus shingle pass — the build+probe SPLIT is
        # unchanged in meaning (one-shot vs recurring), the shingle share
        # just moved into the build leg it was always amortized with.
        LAST_TIMINGS.clear()
        LAST_TIMINGS.update(
            {
                "shingle_s": round(t_build - t_sh, 3),
                "bronze_build_s": round(t_probe - t_build, 3),
                "probe_s": round(time.perf_counter() - t_probe, 3),
            }
        )
        return res
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # release both caches on error paths too (materialize_release
        # already unpersisted them on success; unpersist is idempotent)
        sh.unpersist()
        if delta_b is not None:
            delta_b.unpersist()


# ---------------------------------------------------------------------------
# Time-hierarchy rollup cascade + explicit grouping sets
# ---------------------------------------------------------------------------

_MIN_US = 60 * 1_000_000
_HOUR_US2 = 3_600 * 1_000_000
_DAY_US2 = 86_400 * 1_000_000


@register(
    "rollup_cascade_daily",
    oracle=f"""
    SELECT epoch_us(ts) // {_DAY_US2} AS day,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    doc="Time-hierarchy rollup CASCADE: minute-level partial aggregates "
    "(count, raw sum) roll up to hours, hours to days — the day answer is "
    "computed entirely from the minute pre-aggregate, never rescanning the "
    "events, and the oracle aggregates the raw table directly, proving "
    "cascade == direct (the algebraic-aggregate invariant that makes "
    "hypertable/continuous-aggregate rollups valid). At 100 TB the minute "
    "relation IS the stored rollup (~5 orders of magnitude smaller than "
    "raw); hourly/daily serving reads it, and each level is one "
    "map-combined shuffle over the level below.",
)
def rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # level 0 → 1: raw events → minute grain (the only scan of the raw
    # data); all bucketing is integer div — exact at any epoch, no float
    minute = e.groupBy(
        F.expr(f"unix_micros(ts) div {_MIN_US}").alias("minute")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    # level 1 → 2 → 3: each level aggregates ONLY the level below
    hour = minute.groupBy(
        F.expr("minute div 60").alias("hour")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
    day = hour.groupBy(F.expr("hour div 24").alias("day")).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_value"), 2).alias("total_value"),
    )
    return day


@register(
    "grouping_sets_spend",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS gid,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    doc="Explicit GROUPING SETS with grouping_id disambiguation: per-"
    "priority totals, per-status totals, and the grand total in ONE scan "
    "(vs three queries / a UNION ALL of aggregates); grouping() bits "
    "distinguish 'NULL because aggregated away' from a NULL data value. "
    "Spark expands the sets into a single Expand + one shuffle — the "
    "multi-report pass a 100 TB daily summary job wants.",
)
def grouping_sets_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "sketch_hll_partitioned_union",
    oracle=f"""
    SELECT count(DISTINCT user_id)::BIGINT AS n_users_exact,
           count(DISTINCT epoch_us(ts) // {_DAY_US2})::BIGINT AS n_days,
           TRUE AS merged_within_5pct
    FROM events
    """,
    doc="Mergeable-sketch serving pattern: ONE scan builds a Datasketches "
    "HLL sketch of user_id PER DAY (hll_sketch_agg); any date-range "
    "distinct count is then answered by merging the stored per-day "
    "sketches (hll_union_agg) — never rescanning events. The 100 TB "
    "dashboard shape: sketches are bytes columns in the daily rollup "
    "table; range queries cost O(days), not O(rows). Sketch estimates are "
    "engine-specific, so the oracle checks the exact distinct count "
    "(value-hashed) plus an in-plan boolean: merged estimate within 5% of "
    "exact — literal TRUE in DuckDB (same contract as "
    "a8_approx_count_distinct).",
)
def sketch_hll_partitioned_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr(f"unix_micros(ts) div {_DAY_US2}").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_users_merged"),
        F.count("*").alias("n_days"),
    )
    exact = e.agg(F.count_distinct("user_id").alias("n_users_exact"))
    return exact.crossJoin(F.broadcast(merged)).select(
        "n_users_exact",
        "n_days",
        (
            F.abs(F.col("n_users_merged") - F.col("n_users_exact"))
            / F.col("n_users_exact")
            <= 0.05
        ).alias("merged_within_5pct"),
    )


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc="Stream-static join (§2.11): the event stream enriches against the "
    "STATIC customer dimension — Spark re-plans the static side per "
    "micro-batch as an ordinary broadcast join, no state store involved "
    "(unlike stream-stream joins), so the dimension can be arbitrarily "
    "refreshed between batches. Complete-mode segment totals drained with "
    "availableNow hash-equal the batch join — the streaming form of the "
    "J1 broadcast-enrich contract.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..catalog import events_stream

    stream = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(F.broadcast(cust), "user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    name = f"ss_enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "grouped_arrow_minmax",
    oracle="""
    SELECT event_id,
           round(CASE WHEN mx = mn THEN 0
                      ELSE (value - mn) / (mx - mn) END, 6) AS value_norm
    FROM (
      SELECT event_id, value,
             min(value) OVER (PARTITION BY event_type) AS mn,
             max(value) OVER (PARTITION BY event_type) AS mx
      FROM events)
    """,
    doc="applyInArrow grouped map (§2.12): per-event-type min-max "
    "normalization computed directly on pyarrow batches — no pandas "
    "conversion layer at all, the lowest-overhead Python extension point "
    "Spark offers (one Arrow IPC hop each way). Rounding happens JVM-side "
    "after the UDF so both engines share HALF_UP semantics; hash-checked "
    "against a window-function oracle.",
)
def grouped_arrow_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    def _minmax(table: pa.Table) -> pa.Table:
        v = table.column("value")
        mn = pc.min(v).as_py()
        mx = pc.max(v).as_py()
        rng = (mx - mn) or 1.0
        norm = pc.divide(pc.subtract(v, mn), rng)
        return pa.table({"event_id": table.column("event_id"), "value_norm": norm})

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = e.groupBy("event_type").applyInArrow(
        _minmax, schema="event_id long, value_norm double"
    )
    return out.select("event_id", F.round("value_norm", 6).alias("value_norm"))


@register(
    "pipeline_streaming_corpus",
    oracle=f"""
    WITH norm AS (
      SELECT md5({NORM}) AS text_hash,
             len(string_split({NORM}, ' ')) AS n_tokens
      FROM documents)
    SELECT DISTINCT text_hash, n_tokens
    FROM norm WHERE n_tokens >= 30
    """,
    doc="Streaming corpus-ingestion capstone: documents arrive through the "
    "custom paged-feed STREAM source, each micro-batch is normalized, "
    "quality-gated (>= 30 tokens), content-hashed, and merged into the "
    "corpus store with a sink-side anti-join keyed on text hash — then a "
    "REPLAY batch (every 7th doc re-staged as new pages) writes ZERO rows, "
    "proving content-level exactly-once across batches. The streaming "
    "composition of S7b + corpus_normalize + K2's idempotent merge: at "
    "100 TB the target is a bucketed table on text_hash and each arriving "
    "shard costs one broadcast anti-join against its hash range.",
)
def pipeline_streaming_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..session import ensure_session_confs
    from ..sources import python_datasource

    ensure_session_confs(spark)
    feed, target, chk = (
        run_dir(f"stream_corpus_{part}", sf_dir) for part in ("feed", "target", "chk")
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.write.mode("overwrite").option("maxRecordsPerFile", 100).json(feed)

    python_datasource.register(spark)
    stream = (
        spark.readStream.format("paged_json")
        .schema("doc_id long, text string")
        .option("path", feed)
        .load()
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        norm = DD.normalize_text("text")
        curated = (
            batch_df.select(
                F.md5(norm).alias("text_hash"),
                F.size(F.split(norm, " ")).cast("long").alias("n_tokens"),
            )
            .filter(F.col("n_tokens") >= 30)
            .dropDuplicates(["text_hash"])
        )
        if os.path.exists(target):
            existing = s.read.parquet(target).select("text_hash")
            curated = curated.join(existing, "text_hash", "left_anti")
        curated.write.mode("append").parquet(target)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # replay shard: every 7th doc re-arrives as NEW pages. The stream's
        # offset is a lexicographic name watermark, so replay pages MUST
        # sort after every consumed page (a bare append would write
        # part-00000-<newuuid> names that sort INTO the consumed prefix and
        # be skipped, making this check vacuous): stage, then rename into
        # the feed under a 'part-zzz-replay' prefix.
        staging = run_dir("stream_corpus_replay", sf_dir)
        (
            docs.filter(F.col("doc_id") % 7 == 0)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 100)
            .json(staging)
        )
        for i, f in enumerate(
            sorted(p for p in os.listdir(staging) if p.startswith("part-"))
        ):
            os.rename(
                os.path.join(staging, f),
                os.path.join(feed, f"part-zzz-replay-{i:05d}.json"),
            )
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(target)


@register(
    "u5_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 10 <> 0),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 1)
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
    """,
    doc="Snapshot reconciliation diff: two table versions (deterministic "
    "modular slices with a simulated price restatement) FULL OUTER join on "
    "the key; rows classify as added / removed / changed, unchanged rows "
    "drop out. The audit pass an ETL runs after any backfill — one "
    "co-partitioned shuffle join on the key; at 100 TB both snapshots "
    "bucket by key and the diff is zero-exchange. Generalizes the "
    "reference's one-sided EXCEPT anti-join (U2) to a symmetric diff.",
)
def u5_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 10 != 0)
    new = o.filter(F.col("o_orderkey") % 10 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    j = old.alias("o").join(
        new.alias("n"), F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    change = (
        F.when(F.col("o.o_orderkey").isNull(), F.lit("added"))
        .when(F.col("n.o_orderkey").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    differs = (
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
    )
    return j.filter(differs).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias("o_orderkey"),
        change.alias("change"),
    )


@register(
    "ts_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us
      FROM events),
    seg AS (
      SELECT user_id, value, next_us - us AS dur_us
      FROM seq WHERE next_us IS NOT NULL)
    SELECT user_id,
           round(sum(value * dur_us) / sum(dur_us), 6) AS twap,
           count(*) AS n_segments
    FROM seg GROUP BY user_id
    """,
    doc="Time-weighted average (TWAP): each observation is weighted by how "
    "long it 'held' (until the user's next event), the correct mean for "
    "irregularly sampled series — a plain average over-weights bursts. "
    "One user_id shuffle for the lead() window, then an ordinary "
    "map-combined aggregate; integer micros durations keep the weights "
    "exact cross-engine, and the final ratio is rounded at 6dp. "
    "Deterministic tie-break (ts, event_id) pins equal-timestamp ordering "
    "in both engines.",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = W.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    seq = e.select(
        "user_id", "value", us.alias("us"), F.lead(us).over(w).alias("next_us")
    ).filter(F.col("next_us").isNotNull())
    dur = F.col("next_us") - F.col("us")
    return (
        seq.select("user_id", "value", dur.alias("dur_us"))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6
            ).alias("twap"),
            F.count("*").alias("n_segments"),
        )
    )


@register(
    "a9b_percentile_disc_by_group",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS qty_p50,
           quantile_disc(l_extendedprice, 0.9) AS price_p90
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact DISCRETE percentiles per group (percentile_disc WITHIN "
    "GROUP): returns an actual data value, never an interpolation — so the "
    "result is bit-identical across engines with NO rounding contract "
    "(unlike percentile_cont, whose interpolation arithmetic needs one). "
    "The right statistic when the percentile must be an observable value "
    "(a real order size, a real price).",
)
def a9b_percentile_disc_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__pd_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS qty_p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS price_p90
        FROM __pd_lineitem GROUP BY l_returnflag
        """
    )


@register(
    "collation_ci_grouping",
    oracle="""
    SELECT lower(c_mktsegment) AS segment, count(*) AS n
    FROM (SELECT CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                      WHEN c_custkey % 3 = 1 THEN upper(c_mktsegment)
                      ELSE c_mktsegment END AS c_mktsegment
          FROM customer)
    GROUP BY 1
    """,
    doc="Spark 4 collations: grouping on a UTF8_LCASE-collated column "
    "unifies case variants ENGINE-side — no lower() rewrite of the data, "
    "and comparisons/joins on the column inherit the collation (the "
    "declarative fix for the reference's scattered .str.lower() "
    "normalizations, fetch_ad_users.py:37). The mixed-case input is built "
    "deterministically from c_custkey; output is canonicalized to lower "
    "for the cross-engine hash.",
)
def collation_ci_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    mixed = c.select(
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.upper("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_mixed")
    )
    collated = mixed.select(F.collate(F.col("seg_mixed"), "UTF8_LCASE").alias("seg"))
    return collated.groupBy("seg").agg(F.count("*").alias("n")).select(
        F.lower(F.col("seg")).alias("segment"), "n"
    )


@register(
    "j13_null_safe_join",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_orderkey % 97 END AS grp
      FROM orders),
    b AS (SELECT DISTINCT grp FROM a)
    SELECT coalesce(a.grp, -1) AS grp_key, count(*) AS n_orders
    FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
    GROUP BY 1
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "MATCH each other instead of silently dropping — the semantic an "
    "equi-join on a nullable business key actually needs (a plain = join "
    "loses every NULL-keyed row with no error). Spark plans <=> as an "
    "ordinary hash join (NULL hashes to a regular bucket), so it stays "
    "shuffle-efficient; the NULL group surfaces as coalesce(-1) in the "
    "output for a portable hash.",
)
def j13_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_orderkey") % 97)
        .alias("grp"),
    )
    b = a.select("grp").distinct().withColumnRenamed("grp", "b_grp")
    j = a.join(b, F.col("grp").eqNullSafe(F.col("b_grp")), "inner")
    return j.groupBy(F.coalesce(F.col("grp"), F.lit(-1)).alias("grp_key")).agg(
        F.count("*").alias("n_orders")
    )


@register(
    "basket_brand_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
    bf AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY 1),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2)
    SELECT brand_a, brand_b, n_ab,
           round((n_ab::DOUBLE * n.n_orders) / (fa.n_b::DOUBLE * fb.n_b), 4)
             AS lift
    FROM pairs
    JOIN bf fa ON fa.p_brand = brand_a
    JOIN bf fb ON fb.p_brand = brand_b
    CROSS JOIN n
    WHERE n_ab >= 10
    """,
    doc="Market-basket brand co-occurrence with lift: distinct brands per "
    "order, pairs via a WITHIN-ORDER self-join (fan-out bounded by "
    "items/order, never all-pairs over the catalog), lift = "
    "P(a,b)/(P(a)·P(b)) over orders, support-thresholded. The association-"
    "rules shape: one shuffle on orderkey for the pair join, brand "
    "frequencies broadcast back. At 100 TB the orderkey join is the only "
    "data-sized stage and AQE handles its skew; the pair space is "
    "vocabulary-bounded (brands²), not data-bounded.",
)
def basket_brand_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    bf = ob.groupBy("p_brand").agg(F.count("*").alias("n_b"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    fa = bf.withColumnsRenamed({"p_brand": "brand_a", "n_b": "n_a_cnt"})
    fb = bf.withColumnsRenamed({"p_brand": "brand_b", "n_b": "n_b_cnt"})
    return (
        pairs.join(F.broadcast(fa), "brand_a")
        .join(F.broadcast(fb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n_orders"))
                / (F.col("n_a_cnt") * F.col("n_b_cnt")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


DECAY_TAU_US = 7 * 86_400 * 1_000_000  # 7-day e-folding


@register(
    "events_decayed_value",
    oracle=f"""
    WITH mx AS (SELECT max(epoch_us(ts)) AS t_max FROM events)
    SELECT user_id,
           round(sum(value * exp(-(mx.t_max - epoch_us(ts))::DOUBLE
                                 / {DECAY_TAU_US})), 4) AS decayed_value,
           count(*) AS n_events
    FROM events CROSS JOIN mx
    GROUP BY user_id
    """,
    doc="Exponentially time-decayed engagement value per user (7-day "
    "e-folding): the recency-weighted feature a ranking/feature-store "
    "pipeline maintains. The anchor t_max is an aggregated sub-plan "
    "(broadcast scalar), weights are exp over exact integer micro "
    "deltas, and the weighted sum is one map-combined shuffle. "
    "Incremental maintenance at scale: a stored (sum, anchor) pair "
    "rescales by exp(-Δ/τ) when the anchor advances — the same algebraic "
    "trick as the rollup cascade.",
)
def events_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max(F.unix_micros("ts")).alias("t_max"))
    w = F.exp(
        -(F.col("t_max") - F.unix_micros("ts")).cast("double") / F.lit(DECAY_TAU_US)
    )
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("value") * w), 4).alias("decayed_value"),
            F.count("*").alias("n_events"),
        )
    )


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term


@register(
    "corpus_bigram_perplexity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({NORM}, ' ') AS toks FROM documents),
    t AS (
      SELECT doc_id, i AS pos, toks[i] AS w
      FROM tok, UNNEST(generate_series(1, len(toks))) u(i)),
    bg AS (
      SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2
      FROM tok, UNNEST(generate_series(2, len(toks))) u(i)),
    uc AS (SELECT w, count(*) AS c_w FROM t GROUP BY 1),
    nn AS (SELECT count(*) AS n_tok FROM t),
    bc AS (SELECT w1, w2, count(*) AS c_b FROM bg GROUP BY 1, 2),
    scored AS (
      SELECT b.doc_id,
             ln({BIGRAM_LAMBDA} * c_b::DOUBLE / u1.c_w
                + {1 - BIGRAM_LAMBDA} * u2.c_w::DOUBLE / nn.n_tok) AS lp
      FROM bg b
      JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
      JOIN uc u1 ON u1.w = b.w1
      JOIN uc u2 ON u2.w = b.w2
      CROSS JOIN nn)
    SELECT doc_id,
           round(exp(-avg(lp)), 4) AS perplexity,
           count(*) AS n_bigrams
    FROM scored GROUP BY doc_id
    """,
    doc="Per-document perplexity under an interpolated bigram LM trained "
    "on the corpus itself (λ·p(w2|w1) + (1-λ)·p(w2)): the classic "
    "KenLM-style quality signal for training-data filtering, one step up "
    "from the unigram scorer. Two vocabulary-bounded count aggregates "
    "(unigram, bigram) broadcast back onto the bigram stream; scoring is "
    "one join pass + a per-doc mean — no Python, no model file. Every "
    "count is integer-exact cross-engine; only the final ln/exp is "
    "floating (rounded 4dp).",
)
def corpus_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(DD.normalize_text("text"), " ").alias("__toks"))
    t = toks.select("doc_id", F.explode("__toks").alias("w"))
    bg = (
        toks.select("doc_id", "__toks", F.posexplode("__toks").alias("p0", "w2"))
        .filter(F.col("p0") >= 1)
        .withColumn("w1", F.expr("__toks[p0 - 1]"))
        .select("doc_id", "w1", "w2")
    )
    uc = t.groupBy("w").agg(F.count("*").alias("c_w"))
    nn = t.agg(F.count("*").alias("n_tok"))
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_b"))
    u1 = uc.withColumnsRenamed({"w": "w1", "c_w": "c_w1"})
    u2 = uc.withColumnsRenamed({"w": "w2", "c_w": "c_w2"})
    lp = F.log(
        F.lit(BIGRAM_LAMBDA) * F.col("c_b") / F.col("c_w1")
        + F.lit(1 - BIGRAM_LAMBDA) * F.col("c_w2") / F.col("n_tok")
    )
    return (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nn))
        .groupBy("doc_id")
        .agg(
            F.round(F.exp(-F.avg(lp)), 4).alias("perplexity"),
            F.count("*").alias("n_bigrams"),
        )
    )


@register(
    "events_cumulative_uniques",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, min(epoch_us(ts) // {_DAY_US2}) AS first_day
      FROM events GROUP BY user_id),
    per_day AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM firsts GROUP BY 1)
    SELECT day, new_users,
           sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS cumulative_users
    FROM per_day
    """,
    doc="Exact cumulative distinct users per day via the FIRST-SEEN trick: "
    "each user contributes 1 on their first-activity day, and a running "
    "sum over days gives the exact cumulative-unique curve — no "
    "distinct-per-window recomputation (which would rescan every prior "
    "day per output row). One user_id aggregate + a days-sized window: "
    "the growth-dashboard query at any scale, and the exact counterpart "
    "to the mergeable-HLL range counts.",
)
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.expr(f"unix_micros(ts) div {_DAY_US2}")).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


PQ_SCALE = 10_000  # integer quantization: round(x * 1e4) — exact cross-engine
PQ_NQ = 5  # probe queries: vec_id < 5
PQ_K = 10


@register(
    "ann_pq_binary_topk",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id, d, round(x * {PQ_SCALE})::BIGINT AS xq
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS d
            FROM embeddings)),
    mu AS (
      SELECT d, sum(abs(xq)) // count(*) AS muq FROM xq GROUP BY d),
    recon AS (
      SELECT xq.vec_id, xq.d,
             CASE WHEN xq.xq >= 0 THEN mu.muq ELSE -mu.muq END AS xhat
      FROM xq JOIN mu ON xq.d = mu.d),
    q AS (SELECT vec_id AS query_id, d, xq FROM xq WHERE vec_id < {PQ_NQ}),
    scores AS (
      SELECT q.query_id, r.vec_id AS neighbor_id,
             sum(q.xq * r.xhat)::BIGINT AS score
      FROM q JOIN recon r ON q.d = r.d
      WHERE r.vec_id <> q.query_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, neighbor_id) AS rank
      FROM scores)
    SELECT query_id, rank, neighbor_id, score
    FROM ranked WHERE rank <= {PQ_K}
    """,
    doc="Binary product quantization with ASYMMETRIC scoring: each vector "
    "compresses to one sign bit per dimension plus a SHARED per-dimension "
    "magnitude (64 dims -> 8 bytes + one 64-value table: 32x smaller), "
    "and queries score full-precision against the reconstruction "
    "(sign x magnitude) — the PQ/ADC memory-bandwidth play that makes "
    "100 TB vector search fit in RAM. Every step is integer arithmetic "
    "(inputs quantized at 1e4, magnitudes via integer div), so scores and "
    "ranks are bit-exact cross-engine — same machinery that made the LSH/"
    "IVF oracles exact. At scale: codes live in the bucketed layout, the "
    "magnitude table broadcasts, scoring is one map-side join pass.",
)
def ann_pq_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    xq = e.select(
        "vec_id", F.posexplode("embedding").alias("d0", "x")
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        F.round(F.col("x") * PQ_SCALE).cast("long").alias("xq"),
    )
    mu = xq.groupBy("d").agg(
        F.expr("sum(abs(xq)) div count(*)").alias("muq")
    )
    recon = xq.join(F.broadcast(mu), "d").select(
        F.col("vec_id").alias("neighbor_id"),
        "d",
        F.when(F.col("xq") >= 0, F.col("muq")).otherwise(-F.col("muq")).alias("xhat"),
    )
    q = xq.filter(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("query_id"), "d", F.col("xq").alias("qx")
    )
    scores = (
        F.broadcast(q)
        .join(recon, "d")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(F.col("qx") * F.col("xhat")).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_K)
        .select("query_id", "rank", "neighbor_id", "score")
    )

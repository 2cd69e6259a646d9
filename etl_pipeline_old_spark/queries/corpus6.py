"""Training-corpus curation operators, wave 6: C4-style line-level
deduplication with document reassembly, a mergeable Misra-Gries-style
heavy-hitter summary with its error bounds asserted in-plan, the BPE
tokenizer-training inner loop (adjacent-symbol pair counting), the RAG
retrieval capstone (chunk → embed → LSH index → probe → rerank), a
fastText-shape linear quality classifier, and a mergeable
histogram-quantile sketch.

All are pure relational built-ins — no Python in any hot path —
and every entry is value-oracle-checked against DuckDB. Reference
provenance: the reference pipeline has none of these (its notebooks stop
at pandas groupbys, e.g. /root/reference/datasets/create_scripts_dataset
.ipynb aggregate cells); they extend SURVEY.md §2's LLM-pipeline family:

- line-level dedup is the C4 cleaning step (Raffel et al. 2020: keep ONE
  occurrence of every three-sentence span corpus-wide) re-expressed as
  explode → global first-wins window → ordered reassembly;
- the heavy-hitter summary is the Misra-Gries/space-saving shape used for
  per-shard token statistics that must merge across shards;
- BPE pair counting is the statistic a tokenizer trainer recomputes every
  merge step, aggregated over the (small) word vocabulary instead of the
  raw corpus — the aggregate-then-explode plan that makes it 100 TB-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..registry import register

NORM = DD.NORMALIZE_SQL.format(x="text")

# --- line-level dedup ------------------------------------------------------
# "line" = consecutive LINE_TOKENS-token chunk of the normalized text (the
# testdata documents carry no newlines, so spans stand in for C4's lines;
# the operator is identical either way). 3-token spans duplicate ~19% at
# sf0.01 — non-vacuous, while whole documents are all distinct.
LINE_TOKENS = 3

# --- Misra-Gries heavy hitters --------------------------------------------
MG_SHARDS = 8  # data shards (event_id mod), NOT key shards: summaries merge
MG_K = 32  # counters per shard summary
MG_TOPN = 10
MG_USER_MOD = 97
# 30% of users collapse to a per-type hot key -> 5 guaranteed heavy hitters
MG_HOT_PCT = 3

# --- BPE pair counts -------------------------------------------------------
BPE_TOPN = 50
EOW = "</w>"  # end-of-word marker, per the original BPE formulation


@register(
    "dedup_line_level",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({NORM}, ' ') AS toks FROM documents),
    lines AS (
      SELECT doc_id, i AS line_idx,
             array_to_string(
               list_slice(toks, i*{LINE_TOKENS}+1, i*{LINE_TOKENS}+{LINE_TOKENS}), ' ') AS line
      FROM tok,
           UNNEST(generate_series(0,
             CAST(ceil(len(toks)/{LINE_TOKENS}.0) AS INT) - 1)) AS u(i)),
    kept AS (
      SELECT doc_id, line_idx, line FROM (
        SELECT *, row_number() OVER (PARTITION BY line
                                     ORDER BY doc_id, line_idx) AS rn
        FROM lines)
      WHERE rn = 1),
    tot AS (SELECT doc_id, count(*) AS n_lines_total FROM lines GROUP BY doc_id),
    agg AS (
      SELECT doc_id, count(*) AS n_lines_kept,
             string_agg(line, chr(10) ORDER BY line_idx) AS text_deduped
      FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           t.n_lines_total::BIGINT AS n_lines_total,
           coalesce(a.n_lines_kept, 0)::BIGINT AS n_lines_kept,
           coalesce(a.text_deduped, '') AS text_deduped
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
    doc=f"C4-style line-level dedup: split every document into "
    f"{LINE_TOKENS}-token spans, keep ONE occurrence of each distinct span "
    "corpus-wide (first by (doc_id, position)), then reassemble each "
    "document from its surviving spans in order. Two shuffles total — one "
    "window partitioned BY THE SPAN (the dedup decision is local to a "
    "span's hash partition, so it scales like exact dedup, not like a "
    "self-join), one groupBy(doc_id) for reassembly. The C4 cleaning "
    "step (Raffel et al. 2020) at corpus scale.",
)
def dedup_line_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.line_level_dedup(d, "text", "doc_id", LINE_TOKENS)


def _mg_key_sql() -> str:
    return (
        f"CASE WHEN user_id % 10 < {MG_HOT_PCT} THEN event_type "
        f"ELSE event_type || '#' || (user_id % {MG_USER_MOD})::VARCHAR END"
    )


@register(
    "sketch_mg_heavy_hitters",
    oracle=f"""
    WITH e AS (
      SELECT event_id % {MG_SHARDS} AS pid, {_mg_key_sql()} AS key FROM events),
    c AS (SELECT pid, key, count(*)::BIGINT AS c FROM e GROUP BY pid, key),
    thr AS (
      SELECT pid, c AS t FROM (
        SELECT pid, c, row_number() OVER (PARTITION BY pid
                                          ORDER BY c DESC, key) AS rn
        FROM c)
      WHERE rn = {MG_K} + 1),
    summ AS (
      SELECT c.key, greatest(c.c - coalesce(thr.t, 0), 0) AS est
      FROM c LEFT JOIN thr USING (pid)
      WHERE c.c - coalesce(thr.t, 0) > 0),
    merged AS (SELECT key, sum(est)::BIGINT AS mg_est FROM summ GROUP BY key),
    exact AS (SELECT key, count(*)::BIGINT AS exact_n FROM e GROUP BY key),
    n AS (SELECT count(*)::BIGINT AS n FROM e),
    top AS (
      SELECT key, exact_n FROM (
        SELECT key, exact_n, row_number() OVER (ORDER BY exact_n DESC, key) AS rn
        FROM exact)
      WHERE rn <= {MG_TOPN})
    SELECT t.key, t.exact_n,
           coalesce(m.mg_est, 0)::BIGINT AS mg_est,
           coalesce(m.mg_est, 0) <= t.exact_n
             AND (t.exact_n - coalesce(m.mg_est, 0)) * ({MG_K} + 1) <= n.n
             AS bound_ok,
           (t.exact_n * {MG_K} <= n.n) OR coalesce(m.mg_est, 0) > 0 AS present_ok
    FROM top t LEFT JOIN merged m USING (key) CROSS JOIN n
    """,
    doc=f"Mergeable Misra-Gries heavy-hitter summary: {MG_SHARDS} data "
    f"shards each keep a {MG_K}-counter summary (counts truncated at the "
    f"shard's ({MG_K}+1)-th largest — the closed form of running MG over "
    "the shard), merged by summing per-key estimates. Emits the top-"
    f"{MG_TOPN} exact keys with BOTH MG guarantees asserted in-plan: "
    "0 <= exact - est <= N/(K+1) (bound_ok) and every key with "
    "exact > N/K survives the merge (present_ok). A skewed key domain "
    "(30% of users collapse onto 5 per-type hot keys) makes the "
    "guarantee non-vacuous. Pure relational: two groupBys + one tiny "
    "window per shard — the per-shard token-statistics shape that must "
    "merge across 100 TB of shards without a global pass.",
)
def sketch_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    key = F.when(
        F.col("user_id") % 10 < MG_HOT_PCT, F.col("event_type")
    ).otherwise(
        F.concat_ws("#", "event_type", (F.col("user_id") % MG_USER_MOD).cast("string"))
    )
    e = ev.select((F.col("event_id") % MG_SHARDS).alias("pid"), key.alias("key"))
    c = e.groupBy("pid", "key").agg(F.count("*").cast("long").alias("c"))
    thr = (
        c.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("pid").orderBy(F.desc("c"), "key")),
        )
        .filter(F.col("rn") == MG_K + 1)
        .select("pid", F.col("c").alias("t"))
    )
    summ = (
        c.join(F.broadcast(thr), "pid", "left")
        .withColumn("est", F.greatest(F.col("c") - F.coalesce("t", F.lit(0)), F.lit(0)))
        .filter(F.col("est") > 0)
    )
    merged = summ.groupBy("key").agg(F.sum("est").cast("long").alias("mg_est"))
    exact = e.groupBy("key").agg(F.count("*").cast("long").alias("exact_n"))
    n = e.agg(F.count("*").cast("long").alias("n"))
    top = (
        exact.withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("exact_n"), "key"))
        )
        .filter(F.col("rn") <= MG_TOPN)
        .drop("rn")
    )
    est = F.coalesce("mg_est", F.lit(0))
    return (
        top.join(F.broadcast(merged), "key", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "key",
            "exact_n",
            est.cast("long").alias("mg_est"),
            (
                (est <= F.col("exact_n"))
                & ((F.col("exact_n") - est) * (MG_K + 1) <= F.col("n"))
            ).alias("bound_ok"),
            (
                (F.col("exact_n") * MG_K <= F.col("n")) | (est > 0)
            ).alias("present_ok"),
        )
    )


@register(
    "corpus_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT word, count(*)::BIGINT AS wc FROM (
        SELECT unnest(string_split({NORM}, ' ')) AS word FROM documents)
      GROUP BY word),
    ch AS (SELECT word, wc, string_split(word, '') AS cs FROM w),
    pr AS (
      SELECT wc, cs[i] || ' ' || cs[i+1] AS pair
      FROM ch, UNNEST(generate_series(1, len(cs) - 1)) AS u(i)
      UNION ALL
      SELECT wc, cs[len(cs)] || ' ' || '{EOW}' FROM ch),
    agg AS (SELECT pair, sum(wc)::BIGINT AS pair_count FROM pr GROUP BY pair)
    SELECT pair, pair_count FROM (
      SELECT pair, pair_count,
             row_number() OVER (ORDER BY pair_count DESC, pair) AS rn
      FROM agg)
    WHERE rn <= {BPE_TOPN}
    """,
    doc=f"BPE tokenizer-training inner loop: count adjacent symbol pairs "
    f"(characters + '{EOW}' end-of-word marker) weighted by word "
    f"frequency; top-{BPE_TOPN} pairs = the next merge candidates "
    "(Sennrich et al. 2016). Scale shape: aggregate the corpus to its "
    "word vocabulary FIRST (one map-combined shuffle over words), then "
    "explode pairs over the vocabulary only — pair counting never "
    "touches raw text twice, so the per-merge-step cost at 100 TB is "
    "one scan + a vocabulary-sized explode.",
)
def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split(DD.normalize_text("text"), " ").alias("__toks"))
    words = (
        toks.select(F.explode("__toks").alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wc"))
    )
    ch = words.select("word", "wc", F.split("word", "").alias("cs"))
    inner = ch.select(
        "wc",
        F.explode(
            F.when(
                F.size("cs") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("cs") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("cs", i), F.element_at("cs", i + 1)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    eow = ch.select(
        "wc",
        F.concat_ws(" ", F.element_at("cs", F.size("cs")), F.lit(EOW)).alias("pair"),
    )
    agg = (
        inner.unionByName(eow)
        .groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("pair_count"))
    )
    return (
        agg.withColumn(
            "rn", F.row_number().over(W.orderBy(F.desc("pair_count"), "pair"))
        )
        .filter(F.col("rn") <= BPE_TOPN)
        .drop("rn")
    )


# --- RAG retrieval capstone ------------------------------------------------
# chunk -> embed -> LSH index -> retrieve, end-to-end over documents only.
# The "embedding model" is an exact md5-slice stand-in (16-bit signed slices
# of md5(chunk), the multimodal feature_extract convention) so every score
# is integer-derived and the full retrieval ranking cross-checks DuckDB.
RAG_CHUNK = 8  # tokens per chunk (documents average ~30 words)
RAG_QMOD = 97  # doc_id % RAG_QMOD == 0 -> the doc's first chunk is a query
RAG_BITS = 6
RAG_TABLES = 2
RAG_TOPK = 3
RAG_DIM = 8
RAG_SCALE = 10_000


def _rag_planes(t: int):
    return SIM.quantize_planes(
        SIM.lsh_planes(RAG_BITS, RAG_DIM, seed=202 + t), RAG_SCALE
    )


def _rag_emb_cols():
    """RAG_DIM exact-int embedding dims from md5(chunk_text)."""
    h = F.md5("chunk_text")
    return [
        (F.conv(F.substring(h, 4 * d + 1, 4), 16, 10).cast("long") - 32768)
        for d in range(RAG_DIM)
    ]


def _rag_bucket_col(t: int):
    planes = _rag_planes(t)
    bits = [
        F.when(
            sum(
                int(planes[b][d]) * F.element_at("e", d + 1)
                for d in range(RAG_DIM)
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for b in range(RAG_BITS)
    ]
    return F.concat(*bits)


def _rag_emb_sql() -> str:
    dims = ", ".join(
        f"('0x' || substr(md5(chunk_text), {4 * d + 1}, 4))::BIGINT - 32768"
        for d in range(RAG_DIM)
    )
    return f"[{dims}]"


def _rag_bucket_sql(t: int) -> str:
    planes = _rag_planes(t)
    return " || ".join(
        "(CASE WHEN "
        + " + ".join(
            f"({int(planes[b][d])} * e[{d + 1}])" for d in range(RAG_DIM)
        )
        + " >= 0 THEN '1' ELSE '0' END)"
        for b in range(RAG_BITS)
    )


@register(
    "pipeline_rag_retrieval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({NORM}, ' ') AS toks FROM documents),
    ch AS (
      SELECT doc_id, ((i - 1) // {RAG_CHUNK})::BIGINT AS chunk_idx,
             array_to_string(list_slice(toks, i, i + {RAG_CHUNK - 1}), ' ') AS chunk_text
      FROM tok,
           UNNEST(generate_series(1, greatest(len(toks), 1), {RAG_CHUNK})) AS u(i)),
    emb AS (
      SELECT doc_id, chunk_idx, {_rag_emb_sql()} AS e FROM ch),
    b AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, chunk_idx, e, {t} AS tbl, {{}} AS bucket FROM emb".format(
            _rag_bucket_sql(t))
        for t in range(RAG_TABLES))}),
    qq AS (
      SELECT doc_id AS query_doc_id, e AS qe, tbl, bucket FROM b
      WHERE doc_id % {RAG_QMOD} = 0 AND chunk_idx = 0),
    cand AS (
      SELECT DISTINCT qq.query_doc_id, b.doc_id, b.chunk_idx
      FROM b JOIN qq USING (tbl, bucket)
      WHERE b.doc_id % {RAG_QMOD} <> 0),
    scored AS (
      SELECT c.query_doc_id, c.doc_id, c.chunk_idx,
             round(
               list_dot_product(q.e::DOUBLE[], n.e::DOUBLE[])
               / sqrt(list_dot_product(q.e::DOUBLE[], q.e::DOUBLE[])
                      * list_dot_product(n.e::DOUBLE[], n.e::DOUBLE[])),
               6) AS cos_sim
      FROM cand c
      JOIN emb q ON q.doc_id = c.query_doc_id AND q.chunk_idx = 0
      JOIN emb n ON n.doc_id = c.doc_id AND n.chunk_idx = c.chunk_idx)
    SELECT query_doc_id, rank, doc_id, chunk_idx, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_doc_id
        ORDER BY cos_sim DESC, doc_id, chunk_idx) AS rank
      FROM scored)
    WHERE rank <= {RAG_TOPK}
    """,
    doc=f"RAG retrieval capstone, end-to-end: {RAG_CHUNK}-token chunking -> "
    "md5-slice integer embedding (deterministic encoder stand-in, the "
    "multimodal feature convention) -> "
    f"{RAG_TABLES}-table {RAG_BITS}-bit hyperplane-LSH index -> bucket-join "
    f"candidate retrieval -> exact cosine rerank -> top-{RAG_TOPK} chunks "
    "per query. Queries (first chunks of the doc_id % "
    f"{RAG_QMOD} == 0 docs) are a broadcast side; the index side is one "
    "chunk pass, so retrieval cost is bucket-collision-sized, never "
    "corpus-sized — at 100 TB the index frame is the bucketed-write "
    "layout of operators/similarity.write_lsh_layout and each query "
    "probes only its (tbl, bucket) partitions. Every score is "
    "integer-derived, so the full ranking is value-checked cross-engine.",
)
def pipeline_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(DD.normalize_text("text"), " ").alias("__toks"))
    starts = F.explode(
        F.sequence(F.lit(1), F.greatest(F.size("__toks"), F.lit(1)), F.lit(RAG_CHUNK))
    )
    ch = toks.select("doc_id", "__toks", starts.alias("start")).select(
        "doc_id",
        F.floor((F.col("start") - 1) / RAG_CHUNK).cast("long").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("__toks", F.col("start"), RAG_CHUNK)).alias("chunk_text"),
    )
    emb = ch.select("doc_id", "chunk_idx", F.array(*_rag_emb_cols()).alias("e"))
    # ONE explode over (tbl, bucket) structs instead of a UNION of
    # RAG_TABLES full re-evaluations of the scan -> chunk-explode -> embed
    # subtree (guide §2.4 — the union arms each repeated the corpus scan
    # and the md5 embedding; the explode computes them once per consumer).
    # Same rows (interleaved instead of concatenated — every downstream
    # step is order-insensitive: dropDuplicates over identical payloads,
    # exact-int scoring, deterministically tie-broken ranking).
    # bucket columns are projected BELOW the generate (the generator
    # re-evaluates its collection expression per emitted row — see
    # shingle_sets), so each table's bucket is computed once per chunk
    with_buckets = emb.select(
        "doc_id",
        "chunk_idx",
        "e",
        *[_rag_bucket_col(t).alias(f"__b{t}") for t in range(RAG_TABLES)],
    )
    tbl_structs = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), F.col(f"__b{t}").alias("bucket"))
            for t in range(RAG_TABLES)
        ]
    )
    b = with_buckets.select(
        "doc_id", "chunk_idx", "e", F.explode(tbl_structs).alias("tb")
    ).select(
        "doc_id",
        "chunk_idx",
        "e",
        F.col("tb.tbl").alias("tbl"),
        F.col("tb.bucket").alias("bucket"),
    )
    # NOT SIM.cosine: the oracle divides by sqrt(na2*nb2) (ONE sqrt), and
    # sqrt(a)*sqrt(b) differs from sqrt(a*b) in the last ulp — the round-6
    # contract requires the exact same float op sequence in both engines.
    # The long accumulator keeps every dot product exact (|dot| < 2^53).
    dot = lambda a, bb: F.aggregate(  # noqa: E731
        F.zip_with(a, bb, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    is_query = F.col("doc_id") % RAG_QMOD == 0
    # the query self-dot rides the broadcast side: one exact-int fold per
    # QUERY row instead of one per scored pair (r14; the per-candidate
    # self-dot stays per-pair — most index rows join zero queries at scale)
    qq = b.filter(is_query & (F.col("chunk_idx") == 0)).select(
        F.col("doc_id").alias("query_doc_id"),
        F.col("e").alias("qe"),
        "tbl",
        "bucket",
        dot(F.col("e"), F.col("e")).alias("__qn2"),
    )
    cand = (
        b.filter(~is_query)
        .join(F.broadcast(qq), ["tbl", "bucket"])
        # identical (qe, e, __qn2) payloads on every duplicate row -> dedup is safe
        .dropDuplicates(["query_doc_id", "doc_id", "chunk_idx"])
    )
    scored = cand.select(
        "query_doc_id",
        "doc_id",
        "chunk_idx",
        F.round(
            dot(F.col("qe"), F.col("e")).cast("double")
            / F.sqrt(
                F.col("__qn2").cast("double")
                * dot(F.col("e"), F.col("e")).cast("double")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_doc_id").orderBy(
        F.desc("cos_sim"), "doc_id", "chunk_idx"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RAG_TOPK)
        .select("query_doc_id", "rank", "doc_id", "chunk_idx", "cos_sim")
    )


# --- linear quality classifier --------------------------------------------
# fastText-style linear model over engineered integer features. Weights are
# fixed (a stand-in for trained ones); every feature and the logit are
# integer milli-units, so the keep decision is exact in both engines.
QC_STOPWORDS = ("the", "a", "of", "to", "and")
QC_W_NWORDS = 20
QC_W_STOP = 4
QC_THRESHOLD = -3100  # ~median logit over the testdata -> non-vacuous split


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {NORM} AS t, string_split({NORM}, ' ') AS toks
      FROM documents),
    f AS (
      SELECT doc_id, len(toks) AS n_words,
             (1000 * len(list_filter(toks,
                w -> w IN {QC_STOPWORDS}))) // len(toks) AS stop_pm,
             (1000 * (length(t) - (len(toks) - 1))) // len(toks) AS awl_milli
      FROM tok)
    SELECT doc_id,
           n_words::BIGINT AS n_words,
           stop_pm::BIGINT AS stop_pm,
           awl_milli::BIGINT AS awl_milli,
           ({QC_W_NWORDS} * n_words + {QC_W_STOP} * stop_pm - awl_milli)::BIGINT
             AS logit_milli,
           {QC_W_NWORDS} * n_words + {QC_W_STOP} * stop_pm - awl_milli
             >= {QC_THRESHOLD} AS keep
    FROM f
    """,
    doc="Model-based quality filtering (fastText-style linear classifier "
    "shape): integer engineered features — word count, stopword permille, "
    "mean word length in milli-chars — folded through fixed weights into "
    "an integer logit; keep = logit >= threshold. The execution shape of "
    "a learned quality filter (CCNet/GPT-3 style): one narrow projection, "
    "no shuffle at all, so at 100 TB it streams map-side and fuses into "
    "whatever sink or dedup stage follows.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = DD.normalize_text("text")
    base = d.select("doc_id", t.alias("t"), F.split(t, " ").alias("toks"))
    nw = F.size("toks").cast("long")
    stop_hits = F.size(
        F.filter("toks", lambda w: w.isin(*QC_STOPWORDS))
    ).cast("long")
    f = base.select(
        "doc_id",
        nw.alias("n_words"),
        F.floor(1000 * stop_hits / nw).cast("long").alias("stop_pm"),
        F.floor(1000 * (F.length("t") - (nw - 1)) / nw).cast("long").alias("awl_milli"),
    )
    logit = (
        QC_W_NWORDS * F.col("n_words")
        + QC_W_STOP * F.col("stop_pm")
        - F.col("awl_milli")
    )
    return f.select(
        "doc_id",
        "n_words",
        "stop_pm",
        "awl_milli",
        logit.cast("long").alias("logit_milli"),
        (logit >= QC_THRESHOLD).alias("keep"),
    )


# --- mergeable histogram-quantile sketch -----------------------------------
HQ_SHARDS = 8
HQ_BUCKET = 10_000  # o_totalprice in [1e3, 5e5] -> ~50 buckets


@register(
    "sketch_histogram_quantile",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey % {HQ_SHARDS} AS pid,
             floor(o_totalprice / {HQ_BUCKET})::BIGINT AS b,
             count(*)::BIGINT AS c
      FROM orders GROUP BY 1, 2),
    merged AS (SELECT b, sum(c)::BIGINT AS c FROM h GROUP BY b),
    cum AS (
      SELECT b, sum(c) OVER (ORDER BY b) AS cum,
             (SELECT sum(c) FROM merged) AS n
      FROM merged),
    med_bucket AS (
      SELECT min(b) AS mb, max(n)::BIGINT AS n FROM cum
      WHERE cum * 2 >= n),
    exact AS (SELECT quantile_disc(o_totalprice, 0.5) AS m FROM orders)
    SELECT med_bucket.n AS n_rows,
           (med_bucket.mb * {HQ_BUCKET} + {HQ_BUCKET} // 2)::BIGINT AS est_median,
           round(exact.m, 2) AS exact_median,
           abs(med_bucket.mb * {HQ_BUCKET} + {HQ_BUCKET} // 2 - exact.m)
             <= {HQ_BUCKET} / 2.0 AS within_half_bucket
    FROM med_bucket, exact
    """,
    doc=f"Mergeable fixed-width histogram quantile sketch: {HQ_SHARDS} "
    f"data shards each build a {HQ_BUCKET}-wide bucket histogram of "
    "order totals, summaries merge by summing bucket counters (lossless, "
    "like the HLL/CMS/MG entries), and the merged histogram answers the "
    "median with error <= bucket/2 — asserted in-plan against the exact "
    "DISCRETE median (percentile_disc: the element at position "
    "ceil(N/2), which provably falls inside the selected bucket; an "
    "interpolated median can leave the bucket on even N, so the bound "
    "would not be a theorem for it). Communication is O(shards x buckets), "
    "independent of row count: the only shape that lets 100 TB of shards "
    "answer percentile dashboards without a global sort. The estimate "
    "itself is integer bucket arithmetic, so every output value "
    "hash-checks cross-engine.",
)
def sketch_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    h = (
        o.select(
            (F.col("o_orderkey") % HQ_SHARDS).alias("pid"),
            F.floor(F.col("o_totalprice") / HQ_BUCKET).cast("long").alias("b"),
        )
        .groupBy("pid", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )
    merged = h.groupBy("b").agg(F.sum("c").cast("long").alias("c"))
    wcum = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = merged.select(
        "b", F.sum("c").over(wcum).alias("cum"), F.sum("c").over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("n"),
    )
    med_bucket = (
        cum.filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("b").alias("mb"), F.max("n").cast("long").alias("n"))
    )
    o.createOrReplaceTempView("__hq_orders")
    exact = o.sparkSession.sql(
        "SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS m "
        "FROM __hq_orders"
    )
    est = F.col("mb") * HQ_BUCKET + HQ_BUCKET // 2
    return med_bucket.crossJoin(F.broadcast(exact)).select(
        F.col("n").alias("n_rows"),
        est.cast("long").alias("est_median"),
        F.round("m", 2).alias("exact_median"),
        (F.abs(est - F.col("m")) <= HQ_BUCKET / 2.0).alias("within_half_bucket"),
    )

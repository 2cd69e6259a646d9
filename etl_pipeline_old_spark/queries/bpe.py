"""BPE tokenizer train -> apply — the step every pretraining pipeline
runs between raw text and token ids (Sennrich et al. 2016 subword-units
algorithm, the public BPE formulation GPT-style tokenizers build on).

Train: the corpus collapses to a (word, count) vocabulary (ONE
distributed aggregate — the classic trick that makes BPE tractable:
merge decisions depend only on weighted word shapes, never on document
order), then K driver-coordinated rounds each (a) count adjacent token
pairs distributed with map-side combine, (b) collect ONLY the argmax
pair — one row; never token-level data — and (c) apply that merge to
the vocabulary state. The tokenization state is a delimiter-wrapped
string ('|t||o||k|'), so applying a merge is one non-regex replace with
BPE's exact left-to-right non-overlapping semantics, and the SAME
string algebra runs in the DuckDB oracle, which re-learns all K merges
from scratch via an unrolled 64-round CTE chain and must reproduce the
merge table, every per-round pair count, and the corpus token count
after every round.

Apply: the trained vocabulary IS the tokenizer for in-corpus words —
tokenize-with-merges is a broadcast join from exploded corpus words to
the final vocab state (the 100 TB shape: the learned map is
dims-sized; the corpus side never shuffles). The query's apply_check
column proves the doc-level join path reproduces the vocab-weighted
total.

Lineage: each round localCheckpoints the (tiny) vocab state — without
truncation the 64-round logical plan grows quadratically and analysis
dominates (the standard Spark iterative-algorithm discipline, same as
graph_pagerank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from ..workdir import scratch_path

_K_MERGES = 64

# tokens joined as '|a||b||c|': every token fully wrapped, so the merge
# replace '|a||b|' -> '|ab|' consumes whole delimiters and its
# non-overlapping left-to-right semantics equal the BPE merge pass
def _toks():
    return F.split(F.expr("trim(BOTH '|' FROM st)"), "\\|\\|")


def _char_wrapped(col: str = "word"):
    """The char-level starting state of a word: every character wrapped,
    '|h||i|' for 'hi'."""
    # guard the empty word: Spark's sequence(1, 0) auto-descends to [1, 0]
    # (two bogus chunks) while the oracle's range(1, 1) is empty — force
    # the empty array so both engines agree on '||'
    chars = F.when(
        F.length(col) > 0,
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.col(col).substr(i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(F.lit("|"), F.array_join(chars, "||"), F.lit("|"))


def _vocab_from_docs(docs: DataFrame) -> DataFrame:
    """(word, cnt, st) weighted vocabulary from a corpus of text rows —
    the ONE corpus-wide aggregate BPE training needs."""
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    vocab = words.groupBy("word").agg(F.count("*").alias("cnt"))
    return vocab.withColumn("st", _char_wrapped())


def _vocab_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vocab_from_docs(load_table(spark, sf_dir, "documents").select("text"))


def _adjacent_pairs(vocab: DataFrame) -> DataFrame:
    t = _toks()
    pair_list = F.when(
        F.size(t) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("a"),
                F.element_at(t, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array())
    return (
        vocab.select("cnt", F.explode(pair_list).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("c"))
    )


def _bpe_oracle(k: int = _K_MERGES) -> str:
    """Unrolled k-round BPE training in DuckDB: the same vocabulary, the
    same pair-count argmax (ties broken by (count desc, left, right) in
    both engines), the same delimiter-string merge apply."""
    parts = [
        """wc AS (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w),
    v0 AS MATERIALIZED (
      SELECT word, cnt,
             '|' || coalesce(array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)), '||'), '') || '|' AS st
      FROM wc)"""
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
      SELECT t[i] AS a, t[i + 1] AS b, sum(cnt)::BIGINT AS c
      FROM (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM v{r - 1}),
           UNNEST(range(1, len(t))) AS u(i)
      GROUP BY a, b),
    b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM v{r - 1}),
    t{r} AS MATERIALIZED (
      SELECT sum(cnt * len(string_split(trim(st, '|'), '||')))::BIGINT AS n
      FROM v{r})""")
    merge_rows = "\n      UNION ALL ".join(
        f"SELECT {r} AS round, a AS left_tok, b AS right_tok, "
        f"a || b AS merged, c AS pair_count, "
        f"(SELECT n FROM t{r}) AS corpus_tokens_after FROM b{r}"
        for r in range(1, k + 1)
    )
    return f"""
    WITH {','.join(parts)},
    merges AS (
      {merge_rows}),
    applied AS (
      SELECT sum(len(string_split(trim(v.st, '|'), '||')))::BIGINT AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      JOIN v{k} v USING (word)),
    final_t AS (SELECT n FROM t{k})
    SELECT round, left_tok, right_tok, merged, pair_count,
           corpus_tokens_after,
           CASE WHEN (SELECT n FROM applied) = (SELECT n FROM final_t)
                THEN 1 ELSE 0 END AS apply_check
    FROM merges
    """


@register(
    "corpus_bpe_train_apply",
    oracle=_bpe_oracle(),
    doc="BPE tokenizer train -> apply, the pretraining-pipeline step the "
    "pair-count query (corpus_bpe_pair_counts) stops short of: learn "
    f"{_K_MERGES} merges over the corpus in driver-coordinated rounds — "
    "each round one distributed pair-count aggregate over the (word, "
    "count) vocabulary (map-side combined; the corpus itself collapsed "
    "to the weighted vocabulary ONCE up front, the classic trick that "
    "bounds every round by vocabulary size, not corpus size) and a "
    "1-row argmax collect (ties broken (count desc, left, right)); "
    "merge apply is one non-regex replace on the delimiter-wrapped "
    "token string, lineage truncated per round via localCheckpoint. "
    "Then tokenize-with-merges applies the learned vocabulary back to "
    "the exploded corpus through a BROADCAST join and the total must "
    "reproduce the vocab-weighted count (apply_check). The DuckDB "
    "oracle re-learns all 64 merges from scratch (unrolled CTE chain, "
    "same string algebra) — merge table, per-round pair counts, and "
    "per-round corpus token totals all value-checked. Never collected: "
    "anything token-level; the driver sees exactly K argmax rows. "
    "100 TB shape: vocabulary-sized state (10^7-ish rows at web scale) "
    "stays distributed; per-round shuffle is vocabulary-bounded; the "
    "apply side is a map-only broadcast lookup.",
)
def corpus_bpe_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = _vocab_frame(spark, sf_dir).localCheckpoint(eager=False)
    # total word instances, once: with it, the corpus token count after
    # any round is total_adjacent_pairs + W (every word has exactly
    # n_tokens - 1 adjacencies), so the per-round token total rides in
    # the SAME job as the next round's argmax — one Spark job per merge
    # round instead of two
    w_total = int(vocab.agg(F.sum("cnt").alias("w")).collect()[0]["w"])
    rows: list[tuple] = []
    pending: tuple | None = None  # (round, a, b, c) awaiting its token total
    for r in range(1, _K_MERGES + 1):
        pt = _adjacent_pairs(vocab)
        best = pt.orderBy(F.desc("c"), "a", "b").limit(1).withColumn(
            "is_best", F.lit(1)
        )
        tot = pt.agg(F.sum("c").alias("c")).select(
            F.lit(None).cast("string").alias("a"),
            F.lit(None).cast("string").alias("b"),
            "c",
            F.lit(0).alias("is_best"),
        )
        got = best.unionByName(tot).collect()
        tot_c = next(g["c"] for g in got if not g["is_best"]) or 0
        if pending is not None:  # tokens after the PREVIOUS round's merge
            pr, pa, pb, pc = pending
            rows.append((pr, pa, pb, pa + pb, pc, int(tot_c) + w_total))
        bestrow = [g for g in got if g["is_best"]]
        if not bestrow:
            pending = None
            break
        a, b, c = bestrow[0]["a"], bestrow[0]["b"], int(bestrow[0]["c"])
        pending = (r, a, b, c)
        vocab = vocab.withColumn(
            "st",
            F.replace(F.col("st"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
        ).localCheckpoint(eager=False)
    if pending is not None:  # the final round's token total
        final_c = (
            _adjacent_pairs(vocab).agg(F.sum("c").alias("c")).collect()[0]["c"]
            or 0
        )
        pr, pa, pb, pc = pending
        rows.append((pr, pa, pb, pa + pb, pc, int(final_c) + w_total))

    # apply: tokenize the corpus with the learned merges — exploded words
    # look up their final tokenization in the broadcast vocab map
    d = load_table(spark, sf_dir, "documents").select("text")
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    applied_total = int(
        words.join(F.broadcast(vocab), "word")
        .select(F.sum(F.size(_toks())).alias("n"))
        .collect()[0]["n"]
    )
    check = 1 if rows and applied_total == rows[-1][5] else 0
    out = [(r_, a_, b_, m_, c_, t_, check) for r_, a_, b_, m_, c_, t_ in rows]
    return spark.createDataFrame(
        out,
        "round int, left_tok string, right_tok string, merged string, "
        "pair_count bigint, corpus_tokens_after bigint, apply_check int",
    )


def _train_merge_list(
    vocab: DataFrame, k: int = _K_MERGES
) -> tuple[list[tuple[str, str]], DataFrame]:
    """The training loop reduced to what apply needs: k rounds, each ONE
    distributed pair-count aggregate and a 1-row argmax collect, merge
    applied as a literal replace, lineage truncated per round. Returns
    the ordered merge list and the final vocabulary state."""
    merges: list[tuple[str, str]] = []
    for _ in range(k):
        best = (
            _adjacent_pairs(vocab)
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn(
            "st",
            F.replace(F.col("st"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
        ).localCheckpoint(eager=False)
    return merges, vocab


def _select_disjoint(
    cands: list[tuple[str, str, int]], k: int
) -> list[tuple[str, str]]:
    """Greedy token-disjoint selection from (a, b, count) candidates
    already sorted by (count desc, a, b): a pair is kept only if neither
    of its tokens appears in an already-kept pair — the invariance that
    lets the kept merges apply together, because merging (a, b) cannot
    change the adjacency count of any (c, d) with {a,b} ∩ {c,d} = ∅."""
    kept: list[tuple[str, str]] = []
    used: set[str] = set()
    for a, b, _c in cands:
        if a in used or b in used:
            continue
        kept.append((a, b))
        used.update((a, b))
        if len(kept) == k:
            break
    return kept


def _train_merge_list_batched(
    vocab: DataFrame, k_total: int = _K_MERGES, batch: int = 8
) -> tuple[list[tuple[str, str]], DataFrame]:
    """The driver-round-count fix for 10k+-merge vocabularies (r8 verdict
    #2b): each round collects the top-(4*batch) pair candidates (a
    bounded collect — batch rows of driver state per merge, never
    token-level data), greedily keeps up to ``batch`` token-disjoint
    merges, and applies them all in ONE chained-replace projection + one
    lineage truncation — so the per-merge cost of a round-trip (job
    scheduling + analysis + collect latency, the dominant term once the
    pair aggregate is vocabulary-bounded) drops ~batch-fold.  Within a
    round the kept merges apply in selection order (the chained replace
    evaluates left to right), which is the exact semantics the Python
    reference in tests/test_bpe.py mirrors; with batch=1 the algorithm
    IS classic sequential BPE.  Batched selection reads pair counts that
    are stale by at most one round — the standard throughput/fidelity
    trade every fast tokenizer trainer (e.g. the Rust BPE crates) makes."""
    merges: list[tuple[str, str]] = []
    while len(merges) < k_total:
        want = min(batch, k_total - len(merges))
        cands = (
            _adjacent_pairs(vocab)
            .orderBy(F.desc("c"), "a", "b")
            .limit(max(4 * want, 16))
            .collect()
        )
        if not cands:
            break
        kept = _select_disjoint(
            [(r["a"], r["b"], int(r["c"])) for r in cands], want
        )
        if not kept:  # pathological overlap tail: fall back to the argmax
            kept = [(cands[0]["a"], cands[0]["b"])]
        merges.extend(kept)
        vocab = vocab.withColumn(
            "st", _replay_merges(F.col("st"), kept)
        ).localCheckpoint(eager=False)
    return merges, vocab


def _replay_merges(col, merges: list[tuple[str, str]]):
    """Apply the learned merges IN ORDER to a delimiter-wrapped string
    column — one chained-literal-replace projection (64 F.replace calls
    collapse into a single whole-stage-codegen stage; no UDF). Replaying
    in learned order reproduces the training-state evolution exactly, so
    for in-vocabulary words replay(char_split(word)) == trained st — the
    property that makes the vocab-map join a pure cache of this chain."""
    out = col
    for a, b in merges:
        out = F.replace(out, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    return out


_OOV_TRAIN_MOD = 4  # doc_id % 4 == 3 is the held-out split


def _bpe_oov_oracle(k: int = _K_MERGES) -> str:
    """Train the k merges on the training split, then tokenize the
    held-out split: known words read the trained state, OOV words replay
    the k merges in order on their char split — the same string algebra
    unrolled."""
    m = _OOV_TRAIN_MOD
    parts = [
        f"""wc AS (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % {m} <> {m - 1})
      GROUP BY w),
    v0 AS MATERIALIZED (
      SELECT word, cnt,
             '|' || coalesce(array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)), '||'), '') || '|' AS st
      FROM wc)"""
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
      SELECT t[i] AS a, t[i + 1] AS b, sum(cnt)::BIGINT AS c
      FROM (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM v{r - 1}),
           UNNEST(range(1, len(t))) AS u(i)
      GROUP BY a, b),
    b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM v{r - 1})""")
    # held-out words: known ones join the trained state, unseen ones
    # replay the merge chain on their char split
    parts.append(f"""dw AS MATERIALIZED (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text || ' zzq' || (doc_id % 7), ' ')) AS w
            FROM documents WHERE doc_id % {m} = {m - 1})
      GROUP BY w),
    known AS (
      SELECT dw.word, dw.cnt, v.st FROM dw JOIN v{k} v USING (word)),
    o0 AS MATERIALIZED (
      SELECT dw.word, dw.cnt,
             '|' || coalesce(array_to_string(
               list_transform(range(1, length(dw.word) + 1),
                              i -> substr(dw.word, i, 1)), '||'), '') || '|' AS st
      FROM dw ANTI JOIN v{k} v USING (word))""")
    for r in range(1, k + 1):
        parts.append(f"""o{r} AS (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM o{r - 1})""")
    return f"""
    WITH {','.join(parts)},
    fin AS (
      SELECT word, cnt, 0 AS oov, st FROM known
      UNION ALL
      SELECT word, cnt, 1 AS oov, st FROM o{k})
    SELECT t AS token,
           sum(cnt)::BIGINT AS n_total,
           sum(cnt * oov)::BIGINT AS n_from_oov
    FROM (SELECT cnt, oov,
                 unnest(string_split(trim(st, '|'), '||')) AS t
          FROM fin)
    GROUP BY t
    """


@register(
    "corpus_bpe_apply_oov",
    oracle=_bpe_oov_oracle(),
    doc="BPE apply on text the tokenizer never saw — the actual use of a "
    "trained tokenizer, and the gap corpus_bpe_train_apply leaves open "
    "(its inner vocab join silently drops out-of-vocabulary words): "
    f"merges train on the doc_id % {_OOV_TRAIN_MOD} != {_OOV_TRAIN_MOD - 1} "
    "split (same driver-coordinated rounds), then the held-out split — "
    "salted with ' zzq<doc_id%7>' suffix words so genuine OOV coverage "
    "is guaranteed at every SF — tokenizes through a LEFT join to the "
    "broadcast vocabulary map; in-vocab words read their trained state, "
    "OOV words FALL BACK to replaying the learned merges in order on "
    "their char split — a single chained-literal-replace projection "
    "(whole-stage codegen, no UDF), which reproduces the training-state "
    "evolution exactly (for in-vocab words replay == trained state, so "
    "the vocab map is just a cache of this chain). Output: per-token "
    "totals over the held-out corpus with the OOV-contributed share. "
    "The oracle re-learns the merges on the training split and replays "
    "the same unrolled chain on the anti-joined words — a dropped OOV "
    "word, a wrong merge order, or replay drift all fail the hash. "
    "100 TB shape: apply is distinct-words + one broadcast lookup + a "
    "map-side replay over the (tiny) OOV tail; nothing token-level "
    "shuffles except the final per-token aggregate.",
)
def corpus_bpe_apply_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = _OOV_TRAIN_MOD
    train = d.filter(F.col("doc_id") % m != m - 1).select("text")
    merges, vocab = _train_merge_list(_vocab_from_docs(train))
    delta = d.filter(F.col("doc_id") % m == m - 1).select(
        F.concat(
            F.col("text"), F.lit(" zzq"), (F.col("doc_id") % 7).cast("string")
        ).alias("text")
    )
    dwords = (
        delta.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    joined = dwords.join(
        F.broadcast(vocab.select("word", "st")), "word", "left"
    )
    fin = joined.select(
        "cnt",
        F.col("st").isNull().cast("int").alias("oov"),
        F.coalesce(F.col("st"), _replay_merges(_char_wrapped(), merges)).alias(
            "stf"
        ),
    )
    toks = F.split(F.expr("trim(BOTH '|' FROM stf)"), "\\|\\|")
    return (
        fin.select("cnt", "oov", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.sum("cnt").cast("long").alias("n_total"),
            F.sum(F.col("cnt") * F.col("oov")).cast("long").alias("n_from_oov"),
        )
    )


# ---------------------------------------------------------------------------
# pretraining-shards capstone: tokenizer -> pack -> epoch order -> manifest


def _pretrain_oracle(k: int = _K_MERGES) -> str:
    """Recompute the whole loader path from the documents table: re-learn
    the k merges, token-count every doc through the trained vocabulary,
    re-derive pack boundaries (bucketed cumsum), the per-epoch
    pseudo-random pack order, and the per-(epoch, shard) manifest — a
    wrong merge, a shifted pack boundary, or a permutation drift all
    break order_checksum."""
    from ..operators.dedup import MD5_LONG_SQL
    from .corpus2 import PACK_BUCKETS, PACK_BUDGET
    from .corpus5 import N_EPOCHS, N_SHARDS

    parts = [
        """wc AS (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w),
    v0 AS MATERIALIZED (
      SELECT word, cnt,
             '|' || coalesce(array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)), '||'), '') || '|' AS st
      FROM wc)"""
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
      SELECT t[i] AS a, t[i + 1] AS b, sum(cnt)::BIGINT AS c
      FROM (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM v{r - 1}),
           UNNEST(range(1, len(t))) AS u(i)
      GROUP BY a, b),
    b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM v{r - 1})""")
    h_bucket = MD5_LONG_SQL.format(x="doc_id::VARCHAR")
    h_shard = MD5_LONG_SQL.format(x="'shard:' || pkey")
    h_ord = MD5_LONG_SQL.format(x="'epoch:' || e.epoch::VARCHAR || ':' || pkey")
    return f"""
    WITH {','.join(parts)},
    words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tok AS (
      SELECT w.doc_id,
             sum(len(string_split(trim(v.st, '|'), '||')))::BIGINT AS n_tokens
      FROM words w JOIN v{k} v USING (word) GROUP BY w.doc_id),
    t AS (
      SELECT doc_id, {h_bucket} % {PACK_BUCKETS} AS bucket, n_tokens FROM tok),
    p0 AS (
      SELECT doc_id, bucket, n_tokens,
             ((sum(n_tokens) OVER (
                 PARTITION BY bucket ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) - n_tokens)
              // {PACK_BUDGET})::BIGINT AS pack_id
      FROM t),
    packs AS (
      SELECT bucket, pack_id,
             count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS tok_sum,
             bucket::VARCHAR || ':' || pack_id::VARCHAR AS pkey
      FROM p0 GROUP BY bucket, pack_id),
    keyed AS (
      SELECT e.epoch, p.bucket, p.pack_id, p.pkey, p.n_docs, p.tok_sum,
             {h_shard} % {N_SHARDS} AS shard,
             {h_ord} AS ord
      FROM packs p
      CROSS JOIN (SELECT unnest(range({N_EPOCHS})) AS epoch) e),
    pos AS (
      SELECT *, row_number() OVER (
               PARTITION BY epoch, shard ORDER BY ord, bucket, pack_id) AS pos
      FROM keyed)
    SELECT epoch, shard,
           count(*)::BIGINT AS n_packs,
           sum(n_docs)::BIGINT AS n_docs,
           sum(tok_sum)::BIGINT AS total_tokens,
           arg_min(pkey, ord) AS head_pack,
           sum(pos * tok_sum)::BIGINT AS order_checksum
    FROM pos GROUP BY epoch, shard
    """


@register(
    "pipeline_pretrain_shards",
    oracle=_pretrain_oracle(),
    doc="The pretraining loader path COMPOSED end to end (r8 verdict "
    "#5), where the engine's pieces previously ran as separate "
    "queries: BPE merges train on the corpus (driver-coordinated "
    "vocabulary rounds), every document is token-counted through the "
    "trained vocabulary via ONE broadcast word-map join (the learned "
    "map is dims-sized; the corpus side never shuffles for "
    "tokenization), docs pack into fixed-token-budget sequences with "
    "the bucketed-cumsum window (hash buckets keep the packing "
    "parallel — NO global sort), packs get a deterministic per-epoch "
    "pseudo-random order (portable md5 arithmetic — reproducible "
    "across retries, engines, restarts), and the output is the "
    "per-(epoch, shard) manifest a dataloader schedules from: pack/"
    "doc/token totals, the head pack, and an order checksum "
    "(sum(pos x tokens)) that pins the ENTIRE permutation — any "
    "reordering breaks it. The oracle recomputes everything from the "
    "documents table alone, merges included. 100 TB shape: one "
    "corpus-wide word aggregate + vocabulary-bounded merge rounds, "
    "map-side tokenize, per-bucket windows, per-(epoch, shard) "
    "windows — the driver sees K argmax rows and nothing token-level; "
    "no collect, no global sort anywhere (plan-locked).",
)
def pipeline_pretrain_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.dedup import md5_long
    from .corpus2 import PACK_BUCKETS, PACK_BUDGET
    from .corpus5 import N_EPOCHS, N_SHARDS

    d = load_table(spark, sf_dir, "documents")
    merges, vocab = _train_merge_list(_vocab_from_docs(d.select("text")))
    wtok = vocab.select("word", F.size(_toks()).alias("w_tokens"))
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .join(F.broadcast(wtok), "word")
        .groupBy("doc_id")
        .agg(F.sum("w_tokens").alias("n_tokens"))
    )
    t = tok.select(
        "doc_id",
        (md5_long(F.col("doc_id").cast("string")) % PACK_BUCKETS).alias(
            "bucket"
        ),
        "n_tokens",
    )
    wc = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    start = F.sum("n_tokens").over(wc) - F.col("n_tokens")
    packed = t.select(
        "bucket",
        "n_tokens",
        F.floor(start / PACK_BUDGET).cast("long").alias("pack_id"),
    )
    packs = (
        packed.groupBy("bucket", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("tok_sum"))
        .withColumn(
            "pkey",
            F.concat(
                F.col("bucket").cast("string"),
                F.lit(":"),
                F.col("pack_id").cast("string"),
            ),
        )
    )
    epochs = spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = packs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "bucket",
        "pack_id",
        "pkey",
        "n_docs",
        "tok_sum",
        (md5_long(F.concat(F.lit("shard:"), F.col("pkey"))) % N_SHARDS).alias(
            "shard"
        ),
        md5_long(
            F.concat(
                F.lit("epoch:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("pkey"),
            )
        ).alias("ord"),
    )
    wp = W.partitionBy("epoch", "shard").orderBy("ord", "bucket", "pack_id")
    pos = keyed.withColumn("pos", F.row_number().over(wp))
    return pos.groupBy("epoch", "shard").agg(
        F.count("*").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("tok_sum").cast("long").alias("total_tokens"),
        F.min_by("pkey", "ord").alias("head_pack"),
        F.sum(F.col("pos") * F.col("tok_sum")).cast("long").alias(
            "order_checksum"
        ),
    )


# ---------------------------------------------------------------------------
# byte-level BPE: the GPT-2/tiktoken-lineage base tier (r9 verdict #5) —
# UTF-8 bytes as base units (a 256-entry base vocabulary), under which NO
# input is ever OOV: any word, any script, decomposes to byte tokens that
# the learned merges then recombine.  Base tokens are 2-hex-char strings
# so the same delimiter-wrapped string algebra (and the same DuckDB
# unrolled-CTE oracle) runs unchanged on byte state.


def _byte_wrapped(col: str = "word"):
    """Byte-level starting state of a word: its UTF-8 bytes as
    2-hex-char base tokens, '|61||D1||89|' for 'aщ'."""
    h = F.hex(F.encode(F.col(col), "UTF-8"))
    n = (F.length(h) / F.lit(2)).cast("int")
    # empty-word guard, mirroring _char_wrapped: sequence(1, 0) would
    # yield [1, 0] where the oracle's range(1, 1) is empty
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(1), n), lambda i: h.substr(i * 2 - 1, F.lit(2))
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(F.lit("|"), F.array_join(chunks, "||"), F.lit("|"))


def _bw_sql(w: str) -> str:
    """The DuckDB twin of _byte_wrapped."""
    hx = f"hex(encode({w}))"
    # coalesce: DuckDB's array_to_string([]) is NULL, so the empty word
    # must collapse to '' to match Spark's array_join -> '||'
    return (
        f"'|' || coalesce(array_to_string(list_transform("
        f"range(1, length({hx}) // 2 + 1), "
        f"i -> substr({hx}, (2 * i - 1)::INT, 2)), '||'), '') || '|'"
    )


def _bpe_bytes_oracle(k: int = _K_MERGES) -> str:
    """Byte-level train-then-tokenize, unrolled: merges learn on the
    training split's byte-wrapped vocabulary; the held-out split (salted
    with a Cyrillic suffix word so multi-byte OOV coverage is guaranteed)
    tokenizes known words from the trained state and replays the merge
    chain on the byte split of unseen ones."""
    m = _OOV_TRAIN_MOD
    parts = [
        f"""wc AS (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % {m} <> {m - 1})
      GROUP BY w),
    v0 AS MATERIALIZED (
      SELECT word, cnt, {_bw_sql('word')} AS st
      FROM wc)"""
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
      SELECT t[i] AS a, t[i + 1] AS b, sum(cnt)::BIGINT AS c
      FROM (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM v{r - 1}),
           UNNEST(range(1, len(t))) AS u(i)
      GROUP BY a, b),
    b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM v{r - 1})""")
    parts.append(f"""dw AS MATERIALIZED (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text || ' щzq' || (doc_id % 7), ' ')) AS w
            FROM documents WHERE doc_id % {m} = {m - 1})
      GROUP BY w),
    known AS (
      SELECT dw.word, dw.cnt, v.st FROM dw JOIN v{k} v USING (word)),
    o0 AS MATERIALIZED (
      SELECT dw.word, dw.cnt, {_bw_sql('dw.word')} AS st
      FROM dw ANTI JOIN v{k} v USING (word))""")
    for r in range(1, k + 1):
        parts.append(f"""o{r} AS (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM o{r - 1})""")
    return f"""
    WITH {','.join(parts)},
    fin AS (
      SELECT word, cnt, 0 AS oov, st FROM known
      UNION ALL
      SELECT word, cnt, 1 AS oov, st FROM o{k})
    SELECT t AS token,
           sum(cnt)::BIGINT AS n_total,
           sum(cnt * oov)::BIGINT AS n_from_oov
    FROM (SELECT cnt, oov,
                 unnest(string_split(trim(st, '|'), '||')) AS t
          FROM fin)
    GROUP BY t
    """


@register(
    "corpus_bpe_apply_bytes",
    oracle=_bpe_bytes_oracle(),
    doc="BYTE-level BPE apply — the GPT-2/tiktoken-lineage base tier "
    "corpus_bpe_apply_oov stops short of (its fallback is char-level): "
    "base units are the word's UTF-8 BYTES as 2-hex-char tokens (a "
    "256-entry base vocabulary), so NO input is ever OOV below the "
    "byte tier — any script, any codepoint, decomposes losslessly. "
    f"Merges train on the doc_id % {_OOV_TRAIN_MOD} != "
    f"{_OOV_TRAIN_MOD - 1} split's byte-wrapped vocabulary (same "
    "driver-coordinated rounds, same string algebra — the hex "
    "renaming is the ONLY change); the held-out split, salted with a "
    "CYRILLIC ' щzq<doc_id%7>' suffix word so genuinely multi-byte "
    "OOV coverage is guaranteed at every SF, tokenizes through the "
    "broadcast vocab map with byte-split merge replay as the OOV "
    "fallback (one chained-literal-replace codegen projection, no "
    "UDF). Output: per-token totals with the OOV-contributed share; "
    "the oracle re-learns the merges and replays the same chain on "
    "the anti-joined words — a wrong byte split of a multi-byte "
    "codepoint, a dropped merge, or replay drift all fail the hash. "
    "100 TB shape: identical to the char tier — distinct-words + one "
    "broadcast lookup + map-side replay; only the final per-token "
    "aggregate shuffles.",
)
def corpus_bpe_apply_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = _OOV_TRAIN_MOD
    train = d.filter(F.col("doc_id") % m != m - 1).select("text")
    words = train.select(F.explode(F.split("text", " ")).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("st", _byte_wrapped())
    )
    merges, vocab = _train_merge_list(vocab)
    delta = d.filter(F.col("doc_id") % m == m - 1).select(
        F.concat(
            F.col("text"), F.lit(" щzq"), (F.col("doc_id") % 7).cast("string")
        ).alias("text")
    )
    dwords = (
        delta.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    joined = dwords.join(
        F.broadcast(vocab.select("word", "st")), "word", "left"
    )
    fin = joined.select(
        "cnt",
        F.col("st").isNull().cast("int").alias("oov"),
        F.coalesce(F.col("st"), _replay_merges(_byte_wrapped(), merges)).alias(
            "stf"
        ),
    )
    toks = F.split(F.expr("trim(BOTH '|' FROM stf)"), "\\|\\|")
    return (
        fin.select("cnt", "oov", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.sum("cnt").cast("long").alias("n_total"),
            F.sum(F.col("cnt") * F.col("oov")).cast("long").alias("n_from_oov"),
        )
    )


# ---------------------------------------------------------------------------
# tokenizer-as-artifact: train once, apply many times (r9 verdict #6) —
# pipeline_pretrain_shards re-trains in-query (right for oracle parity,
# wrong as an operational shape); a 100 TB run persists the merge table
# and every apply job reads it back.


def _bpe_artifact_oracle(k: int = _K_MERGES) -> str:
    """Train the k merges (full corpus), then emit the final trained
    tokenization's per-token totals — which the apply-from-artifact path
    must reproduce by replaying the PERSISTED merge table."""
    parts = [
        """wc AS (
      SELECT w AS word, count(*)::BIGINT AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w),
    v0 AS MATERIALIZED (
      SELECT word, cnt,
             '|' || coalesce(array_to_string(
               list_transform(range(1, length(word) + 1),
                              i -> substr(word, i, 1)), '||'), '') || '|' AS st
      FROM wc)"""
    ]
    for r in range(1, k + 1):
        parts.append(f"""p{r} AS MATERIALIZED (
      SELECT t[i] AS a, t[i + 1] AS b, sum(cnt)::BIGINT AS c
      FROM (SELECT cnt, string_split(trim(st, '|'), '||') AS t FROM v{r - 1}),
           UNNEST(range(1, len(t))) AS u(i)
      GROUP BY a, b),
    b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT word, cnt,
             replace(st,
                     coalesce('|' || (SELECT a FROM b{r}) || '||'
                              || (SELECT b FROM b{r}) || '|', '~~none~~'),
                     coalesce('|' || (SELECT a FROM b{r})
                              || (SELECT b FROM b{r}) || '|', '~~none~~')) AS st
      FROM v{r - 1})""")
    return f"""
    WITH {','.join(parts)}
    SELECT t AS token, sum(cnt)::BIGINT AS n_total
    FROM (SELECT cnt,
                 unnest(string_split(trim(st, '|'), '||')) AS t
          FROM v{k})
    GROUP BY t
    """


@register(
    "corpus_bpe_artifact_roundtrip",
    oracle=_bpe_artifact_oracle(),
    doc="Tokenizer ARTIFACT roundtrip — the operational shape "
    "pipeline_pretrain_shards' in-query training is not: a 100 TB run "
    f"trains ONCE and applies many times. Train the {_K_MERGES} merges "
    "(same driver-coordinated rounds), persist the merge table as a "
    "parquet artifact (ordered rounds: round, left_tok, right_tok — "
    "the merges.txt of GPT-2's tokenizer, as a table), then the APPLY "
    "path reads the artifact BACK from disk (nothing reused from the "
    "in-memory list), collects the vocabulary-bounded merge rows in "
    "round order, and tokenizes the corpus by replaying the chain on "
    "each distinct word's char split — one chained-literal-replace "
    "codegen projection. Because replay reproduces the training-state "
    "evolution exactly, the artifact path's per-token totals must "
    "equal the trained state's — which is what the oracle emits after "
    "re-learning the merges from scratch: a dropped round, a "
    "reordered table, or a stale artifact all fail the hash. 100 TB "
    "shape: the artifact is merges-sized (KBs); apply jobs broadcast "
    "it implicitly via the replay literals and never re-shuffle the "
    "corpus beyond the final per-token aggregate.",
)
def corpus_bpe_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _vocab = _train_merge_list(_vocab_frame(spark, sf_dir))
    path = scratch_path("bpe_merges", sf_dir)
    spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "round int, left_tok string, right_tok string",
    ).repartition(1).write.mode("overwrite").parquet(path)

    # apply-from-artifact: a fresh disk read; the in-memory merge list
    # is dead past this point
    art = sorted(
        spark.read.parquet(path).collect(), key=lambda r: r["round"]
    )
    merges_back = [(r["left_tok"], r["right_tok"]) for r in art]
    words = _vocab_frame(spark, sf_dir)
    fin = words.select(
        "cnt", _replay_merges(_char_wrapped(), merges_back).alias("stf")
    )
    toks = F.split(F.expr("trim(BOTH '|' FROM stf)"), "\\|\\|")
    return (
        fin.select("cnt", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("n_total"))
    )

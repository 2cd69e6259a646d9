"""BPE train->apply: the distributed implementation must reproduce an
independently written in-memory reference (dict-based Sennrich-style
learner with left-to-right non-overlapping merge application), the
final tokenization must reconstruct every word losslessly, and the
corpus token count must strictly decrease each round. Value parity of
the full 64-round merge table vs the unrolled DuckDB oracle is covered
by test_oracle_parity."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from etl_pipeline_old_spark.queries.bpe import (
    _K_MERGES,
    _toks,
    _vocab_frame,
    corpus_bpe_train_apply,
)


def _reference_bpe(word_counts: dict[str, int], k: int):
    """Plain-Python BPE, written independently of the Spark path: tuples
    of tokens, Counter pair stats, explicit left-to-right merge walk."""
    state = {w: tuple(w) for w in word_counts}
    merges = []
    for _ in range(k):
        pairs: Counter = Counter()
        for w, toks in state.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += word_counts[w]
        if not pairs:
            break
        (a, b), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, toks in state.items():
            out: list[str] = []
            i = 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            state[w] = tuple(out)
        tokens_after = sum(
            word_counts[w] * len(toks) for w, toks in state.items()
        )
        merges.append((a, b, c, tokens_after))
    return merges, state


def _word_counts(spark, sf_dir) -> dict[str, int]:
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    )
    return {r["w"]: r["count"] for r in rows}


def test_spark_bpe_matches_python_reference(spark, sf_dir):
    got = sorted(
        corpus_bpe_train_apply(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    merges, _state = _reference_bpe(_word_counts(spark, sf_dir), _K_MERGES)
    assert len(got) == len(merges) == _K_MERGES
    for r, (a, b, c, tokens_after) in zip(got, merges):
        assert (r["left_tok"], r["right_tok"]) == (a, b)
        assert r["merged"] == a + b
        assert r["pair_count"] == c
        assert r["corpus_tokens_after"] == tokens_after
        assert r["apply_check"] == 1
    # every merge must make the corpus strictly smaller
    totals = [r["corpus_tokens_after"] for r in got]
    assert all(x > y for x, y in zip(totals, totals[1:]))


def test_final_vocab_reconstructs_words(spark, sf_dir):
    """Lossless tokenization: concatenating a word's final tokens yields
    the word — run AFTER training by replaying the learned merges onto
    the vocab frame through the same string algebra."""
    merges, state = _reference_bpe(_word_counts(spark, sf_dir), _K_MERGES)
    for w, toks in state.items():
        assert "".join(toks) == w
    vocab = _vocab_frame(spark, sf_dir)
    for a, b, _c, _t in merges:
        vocab = vocab.withColumn(
            "st",
            F.replace(F.col("st"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")),
        )
    got = {
        r["word"]: tuple(r["t"])
        for r in vocab.select("word", _toks().alias("t")).collect()
    }
    assert got == state


# ------------------------------------------------- batched merge rounds


def _apply_merge(toks: tuple, a: str, b: str) -> tuple:
    out: list[str] = []
    i = 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return tuple(out)


def _reference_bpe_batched(word_counts: dict[str, int], k_total: int, batch: int):
    """Independent reference of the batched algorithm: top candidates by
    (count desc, a, b), greedy token-disjoint keep, kept merges applied
    IN SELECTION ORDER within the round."""
    state = {w: tuple(w) for w in word_counts}
    merges: list[tuple[str, str]] = []
    while len(merges) < k_total:
        want = min(batch, k_total - len(merges))
        pairs: Counter = Counter()
        for w, toks in state.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += word_counts[w]
        if not pairs:
            break
        cands = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        kept: list[tuple[str, str]] = []
        used: set[str] = set()
        for (a, b), _c in cands[: max(4 * want, 16)]:
            if a in used or b in used:
                continue
            kept.append((a, b))
            used.update((a, b))
            if len(kept) == want:
                break
        if not kept:
            kept = [cands[0][0]]
        merges.extend(kept)
        for a, b in kept:
            state = {w: _apply_merge(t, a, b) for w, t in state.items()}
    return merges, state


def test_batched_training_batch1_is_classic_bpe(spark, sf_dir):
    """batch=1 must reproduce the sequential learner's merge list
    exactly — batching is a throughput knob, not a different algorithm
    at its degenerate setting."""
    from etl_pipeline_old_spark.queries.bpe import (
        _train_merge_list_batched,
        _vocab_frame,
    )

    k = 12
    ref, _ = _reference_bpe(_word_counts(spark, sf_dir), k)
    got, _v = _train_merge_list_batched(_vocab_frame(spark, sf_dir), k, batch=1)
    assert got == [(a, b) for a, b, _c, _t in ref]


def test_batched_training_matches_batched_reference(spark, sf_dir):
    """batch=8: the Spark path must reproduce the independent Python
    reference of the SAME batched algorithm — merge list and the full
    final tokenization state."""
    from etl_pipeline_old_spark.queries.bpe import (
        _toks as toks_col,
    )
    from etl_pipeline_old_spark.queries.bpe import (
        _train_merge_list_batched,
        _vocab_frame,
    )

    wc = _word_counts(spark, sf_dir)
    k, batch = 32, 8
    ref_merges, ref_state = _reference_bpe_batched(wc, k, batch)
    got_merges, vocab = _train_merge_list_batched(
        _vocab_frame(spark, sf_dir), k, batch=batch
    )
    assert got_merges == ref_merges
    got_state = {
        r["word"]: tuple(r["t"])
        for r in vocab.select("word", toks_col().alias("t")).collect()
    }
    assert got_state == ref_state
    # lossless: tokens still concatenate back to the word
    for w, t in got_state.items():
        assert "".join(t) == w


def test_oov_apply_matches_python_reference(spark, sf_dir):
    """corpus_bpe_apply_oov end to end vs an independent in-memory
    replay: train on the %4!=3 split, tokenize the salted held-out
    split, OOV words replay the learned merges in order."""
    from etl_pipeline_old_spark.queries.bpe import (
        _K_MERGES as K,
    )
    from etl_pipeline_old_spark.queries.bpe import (
        _OOV_TRAIN_MOD as M,
    )
    from etl_pipeline_old_spark.queries.bpe import (
        corpus_bpe_apply_oov,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    train_wc: Counter = Counter()
    delta_wc: Counter = Counter()
    for r in docs.collect():
        words = r["text"].split(" ")
        if r["doc_id"] % M != M - 1:
            train_wc.update(words)
        else:
            delta_wc.update(words + [f"zzq{r['doc_id'] % 7}"])
    merges, state = _reference_bpe(dict(train_wc), K)
    totals: Counter = Counter()
    oov_totals: Counter = Counter()
    for w, cnt in delta_wc.items():
        if w in state:
            toks = state[w]
            oov = False
        else:
            toks = tuple(w)
            for a, b, _c, _t in merges:
                toks = _apply_merge(toks, a, b)
            oov = True
        for t in toks:
            totals[t] += cnt
            if oov:
                oov_totals[t] += cnt
    got = {
        r["token"]: (r["n_total"], r["n_from_oov"])
        for r in corpus_bpe_apply_oov(spark, sf_dir).collect()
    }
    assert got == {t: (totals[t], oov_totals[t]) for t in totals}
    # the salted words guarantee genuine OOV coverage at every SF
    assert sum(oov_totals.values()) > 0
    assert any(v[1] > 0 for v in got.values())


def test_pretrain_shards_plan_is_window_hash_based(spark, sf_dir):
    """pipeline_pretrain_shards plan lock (r8 verdict #5): the pack and
    epoch-order stages must stay window/hash-based — no global sort
    (rangepartitioning), no cartesian beyond the 2-row epoch broadcast,
    no Python in the plan (training's argmax collects happen before the
    returned frame; tokenize is a broadcast map join)."""
    import io
    import re
    from contextlib import redirect_stdout

    from etl_pipeline_old_spark.queries.bpe import pipeline_pretrain_shards

    df = pipeline_pretrain_shards(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" not in plan  # no global sort anywhere
    assert "CartesianProduct" not in plan
    # exactly one nested-loop join: the broadcast of the 2-row epoch table
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    assert "BatchEvalPython" not in plan
    # the two windows: bucketed pack cumsum + per-(epoch, shard) position
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    rows = df.collect()
    # N_EPOCHS x N_SHARDS manifest rows, every pack counted in each epoch
    from etl_pipeline_old_spark.queries.corpus5 import N_EPOCHS, N_SHARDS

    assert len(rows) == N_EPOCHS * N_SHARDS
    per_epoch = {}
    for r in rows:
        per_epoch.setdefault(r["epoch"], [0, 0])
        per_epoch[r["epoch"]][0] += r["n_packs"]
        per_epoch[r["epoch"]][1] += r["total_tokens"]
    (e0, e1) = sorted(per_epoch)
    assert per_epoch[e0] == per_epoch[e1]  # same packs, different order
    # the permutations genuinely differ between epochs somewhere
    by_key = {(r["epoch"], r["shard"]): r for r in rows}
    assert any(
        by_key[(e0, s)]["order_checksum"] != by_key[(e1, s)]["order_checksum"]
        or by_key[(e0, s)]["head_pack"] != by_key[(e1, s)]["head_pack"]
        for _e, s in by_key
    )


def _hex_bytes(w: str) -> tuple:
    h = w.encode("utf-8").hex().upper()
    return tuple(h[i : i + 2] for i in range(0, len(h), 2))


def test_byte_level_apply_matches_python_reference(spark, sf_dir):
    """corpus_bpe_apply_bytes vs an independent in-memory byte-level
    replay: base units are UTF-8 bytes as hex pairs, so the Cyrillic
    salt word decomposes to multi-byte tokens and NOTHING is ever OOV
    below the byte tier."""
    from etl_pipeline_old_spark.queries.bpe import (
        _K_MERGES as K,
    )
    from etl_pipeline_old_spark.queries.bpe import (
        _OOV_TRAIN_MOD as M,
    )
    from etl_pipeline_old_spark.queries.bpe import (
        corpus_bpe_apply_bytes,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    train_wc: Counter = Counter()
    delta_wc: Counter = Counter()
    for r in docs.collect():
        words = r["text"].split(" ")
        if r["doc_id"] % M != M - 1:
            train_wc.update(words)
        else:
            delta_wc.update(words + [f"щzq{r['doc_id'] % 7}"])

    # byte-level reference learner: same algorithm, byte-pair base state
    state = {w: _hex_bytes(w) for w in train_wc}
    merges = []
    for _ in range(K):
        pairs: Counter = Counter()
        for w, toks in state.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += train_wc[w]
        if not pairs:
            break
        (a, b), _c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b))
        state = {w: _apply_merge(t, a, b) for w, t in state.items()}

    totals: Counter = Counter()
    oov_totals: Counter = Counter()
    for w, cnt in delta_wc.items():
        if w in state:
            toks = state[w]
            oov = False
        else:
            toks = _hex_bytes(w)
            for a, b in merges:
                toks = _apply_merge(toks, a, b)
            oov = True
        for t in toks:
            totals[t] += cnt
            if oov:
                oov_totals[t] += cnt

    got = {
        r["token"]: (r["n_total"], r["n_from_oov"])
        for r in corpus_bpe_apply_bytes(spark, sf_dir).collect()
    }
    assert got == {t: (totals[t], oov_totals[t]) for t in totals}
    assert sum(oov_totals.values()) > 0
    # every token is a concatenation of hex byte pairs — decodable
    assert all(len(t) % 2 == 0 and bytes.fromhex(t) for t in got)
    # the Cyrillic salt really produced multi-byte merged-or-base tokens
    assert any(bytes.fromhex(t).decode("utf-8", "ignore") == "" or
               max(bytes.fromhex(t)) >= 0x80 for t in got)


def test_artifact_roundtrip_equals_trained_state(spark, sf_dir):
    """corpus_bpe_artifact_roundtrip: the parquet merge table exists with
    K ordered rows, and replaying it from DISK reproduces the trained
    state's per-token totals exactly."""
    import os

    from etl_pipeline_old_spark.queries.bpe import (
        _K_MERGES as K,
    )
    from etl_pipeline_old_spark.queries.bpe import (
        corpus_bpe_artifact_roundtrip,
    )
    from etl_pipeline_old_spark.workdir import scratch_path

    got = {
        r["token"]: r["n_total"]
        for r in corpus_bpe_artifact_roundtrip(spark, sf_dir).collect()
    }
    # independent expectation: reference learner's final state totals
    wc = _word_counts(spark, sf_dir)
    _merges, state = _reference_bpe(wc, K)
    expect: Counter = Counter()
    for w, toks in state.items():
        for t in toks:
            expect[t] += wc[w]
    assert got == dict(expect)
    # the artifact is a real ordered parquet table with K rows
    path = scratch_path("bpe_merges", sf_dir)
    art = spark.read.parquet(path).collect()
    assert len(art) == K
    assert sorted(r["round"] for r in art) == list(range(1, K + 1))


def test_wrapped_helpers_empty_word_matches_oracle(spark):
    # r10 ADVICE: Spark's sequence(1, 0) auto-descends to [1, 0] — the
    # wrapped helpers must yield '||' on the empty word exactly like the
    # (coalesce-guarded) DuckDB twins, so a corpus with leading/double
    # spaces can never hash-mismatch
    import duckdb

    from etl_pipeline_old_spark.queries.bpe import (
        _bw_sql,
        _byte_wrapped,
        _char_wrapped,
    )

    words = ["", "hi", "a\u0449"]
    df = spark.createDataFrame([(w,) for w in words], ["word"]).select(
        "word", _char_wrapped().alias("cw"), _byte_wrapped().alias("bw")
    )
    got = {r["word"]: (r["cw"], r["bw"]) for r in df.collect()}
    assert got[""] == ("||", "||")
    assert got["hi"] == ("|h||i|", "|68||69|")
    assert got["a\u0449"][1] == "|61||D1||89|"

    con = duckdb.connect()
    for w in words:
        lit = "'" + w + "'"
        (o,) = con.execute(f"SELECT {_bw_sql(lit)}").fetchone()
        assert o == got[w][1], (w, o, got[w][1])

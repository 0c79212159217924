"""Unigram-LM inventory pruning (r11, VERDICT r10 item 4): the
leave-one-out loss shortcut (only words whose Viterbi segmentation
uses a piece contribute) must equal the naive full-corpus brute
force, and the whole prune pipeline must match a from-scratch Python
reference."""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


def _viterbi(w, model, total, P, banned=None):
    from var_elasticnet_bigdata_spark.operators.text import (
        _viterbi_segment,
    )

    return _viterbi_segment(w, model, total, P, banned=banned)


def _score(seg, model, total):
    s = 1.0
    for p in seg:
        s = s * (model[p] / total)
    return s


def _brute_reference(word_counts, rounds, prune_frac, P):
    """From-scratch replica of unigram_lm_prune_train on a collected
    (word, count) frame — with the loss computed the NAIVE way: for
    every multi-char piece, re-Viterbi EVERY word under the model
    with that piece removed (no affected-words shortcut)."""
    seed: dict[str, int] = {}
    for w, c in word_counts.items():
        for i in range(len(w)):
            for l in range(1, min(P, len(w) - i) + 1):
                p = w[i : i + l]
                seed[p] = seed.get(p, 0) + c
    chars = {p for p in seed if len(p) == 1}
    model = dict(seed)
    final_e: dict[str, int] = {}
    for r in range(rounds):
        total = sum(model.values())
        e: dict[str, int] = {}
        for w, c in word_counts.items():
            for p in _viterbi(w, model, total, P):
                e[p] = e.get(p, 0) + c
        final_e = e
        if r < rounds - 1:
            model = dict(e)
            for ch in chars:
                model.setdefault(ch, 1)
    model = dict(final_e)
    for ch in chars:
        model.setdefault(ch, 1)
    total = sum(model.values())

    losses: dict[str, float] = {}
    for p in [q for q in model if len(q) >= 2]:
        reduced = {q: c for q, c in model.items() if q != p}
        loss = 0.0
        for w, c in word_counts.items():
            s = _score(_viterbi(w, model, total, P), model, total)
            seg_b = _viterbi(w, reduced, total, P)
            sb = _score(seg_b, reduced, total)
            if s != sb:
                loss += c * math.log(s / sb)
        losses[p] = loss
    multi = [q for q in model if len(q) >= 2]
    ranked = sorted((round(losses.get(q, 0.0), 6), q) for q in multi)
    k = int(len(multi) * prune_frac)
    drop = {q for _, q in ranked[:k]}
    pruned = {q: c for q, c in model.items() if q not in drop}

    total2 = sum(pruned.values())
    out: dict[str, int] = {}
    for w, c in word_counts.items():
        for p in _viterbi(w, pruned, total2, P):
            out[p] = out.get(p, 0) + c
    return drop, out


def test_prune_matches_naive_brute_force(spark):
    """The operator's affected-words-only leave-one-out loss is EXACT
    (removing a piece cannot change words whose best segmentation
    never used it), so the distributed prune must reproduce the naive
    all-pieces x all-words reference bit for bit: same dropped set
    implied by the same final counts."""
    from var_elasticnet_bigdata_spark.operators.text import (
        UNI_PIECE_MAX_LEN,
        UNI_PRUNE_FRAC,
        _unigram_vocab,
        unigram_lm_prune_train,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    docs = load_table(spark, SF, "documents").orderBy("doc_id").limit(40)
    got = {
        r["piece"]: int(r["c"])
        for r in unigram_lm_prune_train(docs, rounds=2).collect()
    }
    word_counts = {
        str(r["w"]): int(r["cnt"])
        for r in _unigram_vocab(docs).collect()
    }
    drop, want = _brute_reference(
        word_counts, rounds=2, prune_frac=UNI_PRUNE_FRAC,
        P=UNI_PIECE_MAX_LEN,
    )
    assert got == want
    assert drop  # the cut is live on this corpus
    assert all(len(p) >= 2 for p in drop)  # chars never pruned
    assert not (set(got) & drop)  # dropped pieces cannot re-enter


def test_pruned_inventory_strictly_shrinks(spark):
    """Pruning drops exactly floor(prune_frac * n_multi) multi-char
    pieces relative to the fixed-inventory model, and the surviving
    counts still cover every word (total mass unchanged)."""
    from var_elasticnet_bigdata_spark.operators.text import (
        unigram_lm_prune_train,
        unigram_lm_train,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    docs = load_table(spark, SF, "documents").orderBy("doc_id").limit(40)
    base = {
        r["piece"]: int(r["c"])
        for r in unigram_lm_train(docs, rounds=2).collect()
    }
    pruned = {
        r["piece"]: int(r["c"])
        for r in unigram_lm_prune_train(docs, rounds=2).collect()
    }
    # the E-step re-segments every word IN FULL either way, so the
    # character mass Σ c·len(piece) is invariant (= Σ cnt·len(word))
    # even though piece counts shift as words re-segment
    assert sum(c * len(p) for p, c in base.items()) == sum(
        c * len(p) for p, c in pruned.items()
    )
    assert len(pruned) < len(base)


def test_encode_stats_match_per_doc_brute(spark):
    """Per-doc encode stats equal a driver-side recount: segment
    every doc's words with the SAME pruned model and compare counts
    and the compression ratio."""
    from var_elasticnet_bigdata_spark.operators.text import (
        UNI_PIECE_MAX_LEN,
        UNI_PRUNE_FRAC,
        _unigram_pruned_model,
        _unigram_vocab,
        _viterbi_segment,
        unigram_encode_stats,
    )
    from var_elasticnet_bigdata_spark.operators.dedup import norm_sql_spark
    from var_elasticnet_bigdata_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents").orderBy("doc_id").limit(40)
    got = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], r["chars_per_piece"])
        for r in unigram_encode_stats(docs, rounds=2).collect()
    }
    pruned, total, _ = _unigram_pruned_model(
        docs, 2, UNI_PRUNE_FRAC, UNI_PIECE_MAX_LEN, "text"
    )
    words_expr = (
        f"filter(split({norm_sql_spark('text')}, ' '), w -> w <> '')"
    )
    rows = docs.select(
        "doc_id", F.expr(words_expr).alias("ws")
    ).collect()
    for r in rows:
        ws = list(r["ws"])
        nps = [
            len(_viterbi_segment(w, pruned, total, UNI_PIECE_MAX_LEN))
            for w in ws
        ]
        ncs = [len(w) for w in ws]
        want = (
            len(ws),
            sum(nps),
            round(sum(ncs) / sum(nps), 6),
        )
        assert got[r["doc_id"]] == want, (r["doc_id"], got[r["doc_id"]], want)
    assert set(got) == {r["doc_id"] for r in rows}

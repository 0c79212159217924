"""Interpolated Kneser-Ney at orders 3 and 5
(`text.kn_ngram_perplexity`): hand-derived micro-corpus pin plus
structural checks."""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"


def test_kn3_hand_derived_micro_corpus(spark):
    """Corpus: d1 = 'a b c a b c', d2 = 'a b d a b', d3 = 'x y'.

    Trigram types / counts:
      (a,b,c):2  (b,c,a):1  (c,a,b):1  (a,b,d):1  (b,d,a):1  (d,a,b):1
    ctx3 (u,v) -> (cctx, n1f3):
      (a,b):(3,2) (b,c):(1,1) (c,a):(1,1) (b,d):(1,1) (d,a):(1,1)
    continuation table t2(v,w) = N1+(.vw):
      (b,c):1 (c,a):1 (a,b):2 (b,d):1 (d,a):1       T = 5
    margins: tv(b)=(2,2) tv(c)=(1,1) tv(a)=(2,1) tv(d)=(1,1)
             t1(c)=1 t1(a)=2 t1(b)=1 t1(d)=1
    With D = 3/4:
      P1: c=1/5 a=2/5 b=1/5 d=1/5
      P2(c|b) = (1/4 + (3/4)*2*(1/5)) / 2 = 11/40 ; P2(d|b) = 11/40
      P2(a|c) = 1/4 + (3/4)*(2/5)        = 11/20 ; P2(a|d) = 11/20
      P2(b|a) = (5/4 + (3/4)*(1/5)) / 2  = 7/10
      P3(c|a,b) = (5/4 + (3/4)*2*(11/40)) / 3 = 133/240
      P3(a|b,c) = 1/4 + (3/4)*(11/20)         = 53/80
      P3(b|c,a) = 1/4 + (3/4)*(7/10)          = 31/40
      P3(d|a,b) = (1/4 + (3/4)*2*(11/40)) / 3 = 53/240
      P3(a|b,d) = 53/80 ; P3(b|d,a) = 31/40
    d1 scores (a,b,c),(b,c,a),(c,a,b),(a,b,c);
    d2 scores (a,b,d),(b,d,a),(d,a,b); d3 has no trigram -> omitted."""
    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b d a b"), (3, "x y")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in kn_ngram_perplexity(docs, order=3, discount=0.75).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_ngrams"] == 4
    assert out[2]["n_ngrams"] == 3
    ppl1 = math.exp(
        -(
            2 * math.log(133 / 240)
            + math.log(53 / 80)
            + math.log(31 / 40)
        )
        / 4
    )
    ppl2 = math.exp(
        -(math.log(53 / 240) + math.log(53 / 80) + math.log(31 / 40)) / 3
    )
    assert out[1]["perplexity"] == pytest.approx(ppl1, abs=1e-6)
    assert out[2]["perplexity"] == pytest.approx(ppl2, abs=1e-6)


def test_kn3_discount_domain(spark):
    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="discount"):
        kn_ngram_perplexity(docs, order=3, discount=1.5)
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="no 3-grams"):
        kn_ngram_perplexity(short, order=3).collect()


def test_kn3_probabilities_sum_below_one(spark):
    """Sanity on real data: interpolated KN is a proper (deficient-
    free within observed contexts) model — per observed context
    (u,v), the probabilities of OBSERVED continuations sum to < 1
    plus the reserved continuation mass, and every scored p is in
    (0, 1]; perplexity >= 1."""
    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    docs = load_table(spark, SF, "documents").orderBy("doc_id").limit(50)
    rows = kn_ngram_perplexity(docs, order=3).collect()
    assert rows
    for r in rows:
        assert r["perplexity"] >= 1.0, r
        assert r["n_ngrams"] >= 1


def test_kn5_short_docs_omitted_and_bounds(spark):
    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d")],  # doc 2 has no 5-gram
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in kn_ngram_perplexity(docs, order=5).collect()}
    assert set(out) == {1}
    assert out[1]["n_ngrams"] == 3
    assert out[1]["perplexity"] >= 1.0
    with pytest.raises(ValueError, match="order"):
        kn_ngram_perplexity(docs, order=1)


def test_kn_model_broadcast_sized_by_measured_types(spark):
    """The final stream-model join broadcasts the model when the
    pinned types frame's measured row count fits the broadcast
    threshold, instead of shuffling the token stream for a sort-merge
    join. At sf0.001 the bigram types fit a 128 KB threshold at
    Spark's row width, while the pinned frame's own estimate (the
    token stream's, about 670 KB) does not: without the measured
    count the final join plans as a sort-merge join here."""
    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(128 * 1024))
    try:
        docs = load_table(spark, SF, "documents")
        df = kn_ngram_perplexity(docs, order=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # plans print top-down: the first join is the final one
        final_join = next(ln for ln in plan.splitlines() if "Join" in ln)
        assert "BroadcastHashJoin" in final_join, plan
        assert df.count() > 0
    finally:
        spark.conf.set(key, prev)
        spark.catalog.clearCache()

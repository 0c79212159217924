"""Unit tests for repetition scoring, regex tokenization, and
deterministic stratified sampling."""

from __future__ import annotations

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# repetition_score
# ---------------------------------------------------------------------------


def test_repetition_extremes(spark):
    from var_elasticnet_bigdata_spark.operators.text import repetition_score

    rows = {
        r.doc_id: r
        for r in repetition_score(
            _docs(
                spark,
                [
                    (1, "spam spam spam spam spam spam"),  # fully repeated
                    (2, "a b c d e f g"),  # all bigrams distinct
                ],
            ),
            n=2,
        ).collect()
    }
    # doc 1: 5 bigrams, all "spam spam" → 1 distinct → dup_frac 0.8
    assert rows[1].n_ngrams == 5
    assert rows[1].dup_frac == pytest.approx(0.8)
    assert rows[2].dup_frac == pytest.approx(0.0)


def test_repetition_short_doc_is_zero(spark):
    from var_elasticnet_bigdata_spark.operators.text import repetition_score

    r = repetition_score(_docs(spark, [(1, "one")]), n=2).collect()[0]
    assert r.n_ngrams == 1
    assert r.dup_frac == pytest.approx(0.0)


def test_repetition_partial(spark):
    from var_elasticnet_bigdata_spark.operators.text import repetition_score

    # "x y x y z": bigrams [x y, y x, x y, y z] → 4 total, 3 distinct
    r = repetition_score(_docs(spark, [(1, "x y x y z")]), n=2).collect()[0]
    assert r.n_ngrams == 4
    assert r.dup_frac == pytest.approx(0.25)


# ---------------------------------------------------------------------------
# regex_token_stats
# ---------------------------------------------------------------------------


def test_regex_tokens_classification(spark):
    import hashlib

    from var_elasticnet_bigdata_spark.operators.text import regex_token_stats

    r = regex_token_stats(
        _docs(spark, [(1, "Call me at 555-1234, ok?")])
    ).collect()[0]
    # lower → call me at 555 - 1234 , ok ?
    toks = ["call", "me", "at", "555", "-", "1234", ",", "ok", "?"]
    assert r.n_tokens == 9
    assert r.n_alpha == 4
    assert r.n_num == 2
    assert r.n_punct == 3
    assert r.tok_key == hashlib.md5(" ".join(toks).encode()).hexdigest()


def test_regex_tokens_whitespace_never_tokenized(spark):
    from var_elasticnet_bigdata_spark.operators.text import regex_token_stats

    r = regex_token_stats(_docs(spark, [(1, "a  \t b \n c")])).collect()[0]
    assert r.n_tokens == 3
    assert r.n_alpha == 3
    assert r.n_punct == 0


def test_regex_tokens_empty(spark):
    from var_elasticnet_bigdata_spark.operators.text import regex_token_stats

    r = regex_token_stats(_docs(spark, [(1, "")])).collect()[0]
    assert (r.n_tokens, r.n_alpha, r.n_num, r.n_punct) == (0, 0, 0, 0)


# ---------------------------------------------------------------------------
# stratified_sample
# ---------------------------------------------------------------------------


def _lang_docs(spark, n=2000):
    rows = [(i, f"text {i}", ["en", "de", "fr"][i % 3]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_stratified_rates_approximate(spark):
    from var_elasticnet_bigdata_spark.operators.split import stratified_sample

    df = _lang_docs(spark)
    out = (
        stratified_sample(df, "lang", {"en": 0.5, "de": 0.1}, "doc_id")
        .groupBy("lang")
        .count()
        .collect()
    )
    got = {r.lang: r["count"] for r in out}
    # ~667 docs per lang; md5 buckets are uniform
    assert got["en"] == pytest.approx(667 * 0.5, rel=0.2)
    assert got["de"] == pytest.approx(667 * 0.1, rel=0.5)
    assert "fr" not in got  # default_rate=0 drops unlisted strata


def test_stratified_samples_nest(spark):
    """The 10% sample is a subset of the 50% sample (thresholds nest)."""
    from var_elasticnet_bigdata_spark.operators.split import stratified_sample

    df = _lang_docs(spark)
    lo = {
        r.doc_id
        for r in stratified_sample(df, "lang", {"en": 0.1}, "doc_id").collect()
    }
    hi = {
        r.doc_id
        for r in stratified_sample(df, "lang", {"en": 0.5}, "doc_id").collect()
    }
    assert lo <= hi
    assert len(lo) < len(hi)


def test_stratified_independent_of_hash_split(spark):
    """The salted sampling key decorrelates from hash_split: a 10%
    en-sample must NOT land entirely inside one split."""
    from var_elasticnet_bigdata_spark.operators.split import (
        hash_split,
        stratified_sample,
    )

    df = hash_split(_lang_docs(spark), "doc_id")
    out = stratified_sample(df, "lang", {"en": 0.2}, "doc_id")
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert len(splits) >= 2


def test_stratified_rate_one_keeps_all(spark):
    from var_elasticnet_bigdata_spark.operators.split import stratified_sample

    df = _lang_docs(spark, n=300)
    kept = stratified_sample(df, "lang", {"en": 1.0}, "doc_id").count()
    assert kept == df.filter("lang = 'en'").count()


def test_stratified_rejects_bad_rate(spark):
    from var_elasticnet_bigdata_spark.operators.split import stratified_sample

    with pytest.raises(ValueError):
        stratified_sample(_lang_docs(spark, 10), "lang", {"en": 1.5}, "doc_id")


def test_stratified_matches_duck_predicate(spark, duck):
    from var_elasticnet_bigdata_spark.operators.split import (
        duck_stratified_sample_sql,
        stratified_sample,
    )
    from var_elasticnet_bigdata_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = {
        r.doc_id
        for r in stratified_sample(
            docs, "lang", {"en": 0.3, "de": 0.7}, "doc_id", default_rate=0.05
        ).collect()
    }
    pred = duck_stratified_sample_sql(
        "lang", {"en": 0.3, "de": 0.7}, "doc_id", default_rate=0.05
    )
    want = {
        d for (d,) in duck.execute(
            f"SELECT doc_id FROM documents WHERE {pred}"
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# plan-shape regression: InferFiltersFromGenerate tax
# ---------------------------------------------------------------------------


def test_no_generate_inferred_normalize_filter(spark):
    """No query plan may contain a Filter that re-evaluates the text
    normalize pipeline inside a lambda (the InferFiltersFromGenerate
    + pushdown re-inline signature; 10x at sf0.1)."""
    from var_elasticnet_bigdata_spark import queries as Q

    for name in (
        "split_contamination",
        "text_repetition",
        "text_bm25_topk",
        "text_unigram_logprob",
        "text_chunking",
    ):
        df = Q.QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Filter" in line and "lambdafunction" in line:
                assert "regexp_replace" not in line, (
                    f"{name}: normalize pipeline re-inlined into a "
                    f"Filter: {line[:200]}"
                )


# ---------------------------------------------------------------------------
# composed training pipeline
# ---------------------------------------------------------------------------


def test_training_pipeline_invariants(spark):
    """Structural invariants on real testdata: only train-split docs
    survive, every chunk is 1..32 tokens, chunk ids are dense, and
    the pipeline is deterministic across runs."""
    from var_elasticnet_bigdata_spark.operators.curation import (
        training_pipeline,
    )
    from var_elasticnet_bigdata_spark.operators.split import hash_split
    from var_elasticnet_bigdata_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = training_pipeline(docs).collect()
    assert len(out) > 0
    train_ids = {
        r.doc_id
        for r in hash_split(docs, "doc_id")
        .filter("split = 'train'")
        .select("doc_id")
        .collect()
    }
    by_doc = {}
    for r in out:
        assert r.doc_id in train_ids
        assert 1 <= r.n_tokens <= 32
        by_doc.setdefault(r.doc_id, []).append(r.chunk_id)
    for cids in by_doc.values():
        assert sorted(cids) == list(range(1, len(cids) + 1))
    # deterministic
    again = training_pipeline(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_training_pipeline_drops_planted_contamination(spark):
    """A train doc that textually duplicates a test doc must be
    removed by the decontamination stage (exact dedup can't catch it
    when normalization differs, n-gram overlap does)."""
    from var_elasticnet_bigdata_spark.operators.curation import (
        training_pipeline,
    )
    from var_elasticnet_bigdata_spark.operators.split import hash_split
    from var_elasticnet_bigdata_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    lab = hash_split(docs, "doc_id")
    test_doc = (
        lab.filter("split = 'test'")
        .filter("length(text) > 120")
        .orderBy("doc_id")
        .select("doc_id", "text")
        .first()
    )
    # find a train id to carry the contaminated copy (append '!' so
    # the normalized text matches the test doc but the raw differs)
    train_id = next(
        r.doc_id
        for r in lab.filter("split = 'train'").select("doc_id").collect()
    )
    planted = spark.createDataFrame(
        [(int(train_id) + 1_000_000, test_doc.text + "!!", "en", "planted", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # the planted id must land in 'train' for the test to be valid
    planted_split = hash_split(planted, "doc_id").first().split
    if planted_split != "train":
        import pytest as _pytest

        _pytest.skip("planted id hashed out of train; fixture-dependent")
    out_ids = {
        r.doc_id
        for r in training_pipeline(docs.unionByName(planted)).collect()
    }
    assert int(train_id) + 1_000_000 not in out_ids


def test_temperature_sample_flattens_mixture(spark):
    """τ<1 up-weights small sources toward the target mixture; τ=1 is
    proportional (uniform rate); samples NEST across targets; and the
    whole rule is a pure function of the id (deterministic)."""
    from pyspark.sql import functions as F

    from var_elasticnet_bigdata_spark.operators.split import (
        temperature_sample,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = temperature_sample(df, "source", "doc_id", 400, temperature=0.5)
    by = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # proportional sampling would give small ≈ 40 of 400; τ=0.5 gives
    # weight 30/(30+10) vs 900/1000 → small ≈ 100. Assert direction
    # with slack for bucket quantization noise.
    assert by["small"] > 60, by
    assert by["big"] > by["small"]  # still majority-big
    # τ=1 ⇒ every source keeps the same rate
    k1 = temperature_sample(df, "source", "doc_id", 400, temperature=1.0)
    c1 = {r["source"]: r["n"] for r in k1.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert abs(c1["big"] / 900 - c1["small"] / 100) < 0.1
    # nesting: the 200-target sample is a subset of the 400-target one
    k200 = set(r.doc_id for r in temperature_sample(
        df, "source", "doc_id", 200, temperature=0.5).select("doc_id").collect())
    k400 = set(r.doc_id for r in kept.select("doc_id").collect())
    assert k200 <= k400
    # determinism
    again = set(r.doc_id for r in temperature_sample(
        df, "source", "doc_id", 400, temperature=0.5).select("doc_id").collect())
    assert again == k400
    # target above corpus size keeps everything (rate caps at 1)
    assert temperature_sample(df, "source", "doc_id", 10_000).count() == 1000


def test_mixture_sample_composition_and_errors(spark):
    from var_elasticnet_bigdata_spark.operators.split import mixture_sample

    import pytest as _pytest
    from pyspark.sql import functions as F

    rows = (
        [(i, "a", 10) for i in range(600)]
        + [(i, "b", 10) for i in range(600, 900)]
        + [(i, "c", 10) for i in range(900, 1000)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    # target 50/50 over a,b with equal row sizes: b (300 rows) binds →
    # T = 600 units, expect ~300 from each; c is dropped (weight 0)
    kept = mixture_sample(df, "source", "doc_id", {"a": 0.5, "b": 0.5},
                          size_col="n_tok")
    by = {r["source"]: r["n"] for r in kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert "c" not in by
    assert by["b"] == 300  # binding source keeps every row (rate 1)
    assert abs(by["a"] - 300) < 60  # expected 300 of 600 at rate 0.5
    # determinism
    again = {r["source"]: r["n"] for r in
             mixture_sample(df, "source", "doc_id", {"a": 0.5, "b": 0.5},
                            size_col="n_tok")
             .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == by
    # row-count weighting (no size_col) gives the same shape here
    kept2 = mixture_sample(df, "source", "doc_id", {"a": 1, "b": 1})
    assert kept2.groupBy("source").count().count() == 2
    # weighted source absent from the data → loud, not empty
    with _pytest.raises(ValueError, match="absent"):
        mixture_sample(df, "source", "doc_id", {"a": 0.5, "zz": 0.5})
    with _pytest.raises(ValueError, match="positive"):
        mixture_sample(df, "source", "doc_id", {"a": 0.0, "b": 1.0})
    with _pytest.raises(ValueError, match="non-empty"):
        mixture_sample(df, "source", "doc_id", {})


def test_line_dedup_known_boilerplate(spark):
    from var_elasticnet_bigdata_spark.operators.text import line_dedup

    # seg_len=2 segments; 'x y' appears in docs 1,2,3 → boilerplate;
    # everything else unique. doc 4 is ONLY boilerplate; doc 5 empty.
    df = spark.createDataFrame(
        [
            (1, "x y a b"),
            (2, "x y c d"),
            (3, "p q x y"),
            (4, "x y"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(df, seg_len=2, min_docs=2).collect()}
    assert len(out) == 5
    assert (out[1].n_segments, out[1].n_kept, out[1].cleaned_text) == (2, 1, "a b")
    assert out[2].cleaned_text == "c d"
    assert out[3].cleaned_text == "p q"  # order preserved, position 2 dropped
    assert (out[4].n_kept, out[4].cleaned_text) == (0, "")
    assert (out[5].n_segments, out[5].n_kept, out[5].cleaned_text) == (0, 0, "")
    # min_docs=5: 'x y' is in only 4 docs → all text kept verbatim
    out4 = {r.doc_id: r for r in line_dedup(df, seg_len=2, min_docs=5).collect()}
    assert out4[1].cleaned_text == "x y a b"
    # ragged tail forms its own short segment (and a SHARED tail
    # segment is itself boilerplate)
    df2 = spark.createDataFrame(
        [(1, "a b c"), (2, "z z c"), (3, "q r s")], "doc_id long, text string"
    )
    o2 = {r.doc_id: r for r in line_dedup(df2, seg_len=2, min_docs=2).collect()}
    assert o2[1].n_segments == 2
    assert o2[1].cleaned_text == "a b"  # shared tail 'c' dropped
    assert o2[3].cleaned_text == "q r s"  # fully unique doc intact


def test_quality_top_fraction_exact_and_approx(spark):
    from var_elasticnet_bigdata_spark.operators.curation import (
        quality_top_fraction,
    )

    import pytest as _pytest

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = quality_top_fraction(docs, 0.4, group_col="lang").toPandas()
    # per-group kept count == ceil(0.4 * n_group), top-ranked by quality
    totals = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    kept = exact.groupby("lang").size()
    import math

    for lang, n in totals.items():
        assert kept[lang] == math.ceil(0.4 * n), lang
    # determinism
    again = quality_top_fraction(docs, 0.4, group_col="lang").toPandas()
    assert sorted(again.doc_id) == sorted(exact.doc_id)
    # the sort-free approx path keeps ~the same set (threshold ties
    # and sketch rank error only)
    approx = quality_top_fraction(
        docs, 0.4, group_col="lang", exact=False
    ).toPandas()
    e, a = set(exact.doc_id), set(approx.doc_id)
    assert len(e & a) / len(e) > 0.9
    # kept rows are the TOP of each group: every kept quality >= every
    # dropped quality within the group (up to rank ties broken by id)
    alldocs = quality_top_fraction(docs, 1.0, group_col="lang").toPandas()
    for lang in totals.index:
        kq = exact[exact.lang == lang].quality
        dq = alldocs[(alldocs.lang == lang)
                     & (~alldocs.doc_id.isin(exact.doc_id))].quality
        if len(dq):
            assert kq.min() >= dq.max() - 1e-12
    with _pytest.raises(ValueError, match="frac"):
        quality_top_fraction(docs, 0.0)


def test_bigram_logprob_hand_computed(spark):
    """Pin the interpolation against a hand-computable corpus."""
    import math

    from var_elasticnet_bigdata_spark.operators.text import bigram_logprob

    import pytest as _pytest

    # corpus: doc1 = "a b a b", doc2 = "a b", doc3 = "c" (omitted)
    df = _docs(spark, [(1, "a b a b"), (2, "a b"), (3, "c")])
    out = {r.doc_id: r for r in bigram_logprob(df, lam=0.5).collect()}
    assert 3 not in out  # <2 tokens → no scored positions
    # token stream: a b a b a b c → N=7, c1(a)=3, c1(b)=3, c1(c)=1
    # bigram positions: doc1 (a,b),(b,a),(a,b); doc2 (a,b)
    # c2(a,b)=3, ctx(a)=3; c2(b,a)=1, ctx(b)=1
    p_ab = 0.5 * (3 / 3) + 0.5 * (3 / 7)
    p_ba = 0.5 * (1 / 1) + 0.5 * (3 / 7)
    want1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    assert out[1].n_bigrams == 3
    assert out[1].logprob == _pytest.approx(want1, rel=1e-9)
    assert out[2].n_bigrams == 1
    assert out[2].logprob == _pytest.approx(math.log(p_ab), rel=1e-9)
    with _pytest.raises(ValueError, match="lam"):
        bigram_logprob(df, lam=1.5)


def test_bigram_perplexity_and_curriculum(spark, duck):
    """VERDICT r8 item 3: perplexity = exp(−mean ln p) of the same
    interpolated model (hand-checked), and the fluency curriculum
    ranks by the 6-dp-snapped perplexity with the explicit ceil
    bucket formula — DuckDB twin agrees row-for-row."""
    import math

    import pytest as _pytest

    from var_elasticnet_bigdata_spark.operators.text import (
        bigram_perplexity,
        duck_perplexity_curriculum_sql,
        perplexity_curriculum,
    )

    df = _docs(spark, [(1, "a b a b"), (2, "a b"), (3, "c")])
    out = {r.doc_id: r for r in bigram_perplexity(df, lam=0.5).collect()}
    assert 3 not in out
    p_ab = 0.5 * (3 / 3) + 0.5 * (3 / 7)
    p_ba = 0.5 * (1 / 1) + 0.5 * (3 / 7)
    want1 = math.exp(-(2 * math.log(p_ab) + math.log(p_ba)) / 3)
    assert out[1].perplexity == _pytest.approx(want1, rel=1e-9)
    assert out[2].perplexity == _pytest.approx(1 / p_ab, rel=1e-9)
    # p(a,b) == p(b,a) == 0.5 + 3/14 here, so BOTH docs tie at the
    # same perplexity — exactly the case the 6-dp snap + id-asc tie
    # rule exists for: doc1 takes rank 1/bucket 1, doc2 bucket 2, on
    # both engines
    cur = {
        r.doc_id: (r.perplexity, r.bucket)
        for r in perplexity_curriculum(df, n_buckets=2, lam=0.5).collect()
    }
    assert set(cur) == {1, 2}
    assert cur[1][0] == cur[2][0]  # the planted tie
    assert cur[1][1] == 1 and cur[2][1] == 2  # id-asc tiebreak
    duck.execute("DROP TABLE IF EXISTS ppl_docs")
    duck.execute(
        "CREATE TABLE ppl_docs AS SELECT * FROM (VALUES"
        " (1, 'a b a b'), (2, 'a b'), (3, 'c')) t(doc_id, text)"
    )
    want = {
        int(r[0]): (float(r[1]), int(r[2]))
        for r in duck.execute(
            duck_perplexity_curriculum_sql(
                n_buckets=2, lam=0.5, table="ppl_docs"
            )
        ).fetchall()
    }
    duck.execute("DROP TABLE IF EXISTS ppl_docs")
    got = {k: (round(v[0], 6), v[1]) for k, v in cur.items()}
    assert got == want


# ---------------------------------------------------------------------------
# Round 6: BPE merge round + classifier inference + distributed Lloyd step
# ---------------------------------------------------------------------------


def test_bpe_pair_counts_hand_computed(spark):
    """Pair counts weighted by word frequency, ties broken by pair
    asc, singleton chars excluded."""
    from var_elasticnet_bigdata_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(0, "abab ab"), (1, "ab Cd!"), (2, "x")],  # 'x' too short; Cd -> cd
        "doc_id long, text string",
    )
    rows = bpe_pair_counts(df, top_n=10).collect()
    got = {r.pair: r.cnt for r in rows}
    # 'abab' x1 -> ab,ba,ab ; 'ab' x2 -> ab ; 'cd' x1 -> cd
    assert got == {"ab": 4, "ba": 1, "cd": 1}
    # ordering: cnt desc, pair asc
    assert [r.pair for r in rows] == ["ab", "ba", "cd"]


def test_bpe_pair_counts_vocab_sided(spark):
    """Duplicating the corpus 10x must not grow the pair-expansion
    input (it runs on DISTINCT words) — counts just scale by 10."""
    from var_elasticnet_bigdata_spark.operators.text import bpe_pair_counts

    base = [(i, "alpha beta gamma") for i in range(5)]
    big = [(i, "alpha beta gamma") for i in range(50)]
    d1 = spark.createDataFrame(base, "doc_id long, text string")
    d10 = spark.createDataFrame(big, "doc_id long, text string")
    c1 = {r.pair: r.cnt for r in bpe_pair_counts(d1, top_n=50).collect()}
    c10 = {r.pair: r.cnt for r in bpe_pair_counts(d10, top_n=50).collect()}
    assert c10 == {p: 10 * c for p, c in c1.items()}


def test_classifier_score_exact_logit_and_no_shuffle(spark):
    """The integer milli-logit must equal the hand-computed bucket-sum
    and the plan must contain NO exchange (single narrow pass)."""
    import hashlib

    from var_elasticnet_bigdata_spark.operators.text import (
        classifier_weights,
        hashed_classifier_score,
    )

    w = classifier_weights()
    docs = [(0, "hello world"), (1, "spark"), (2, "a b c d")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = hashed_classifier_score(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    got = {r.doc_id: r for r in out.collect()}
    for doc_id, text in docs:
        toks = text.split(" ")
        logit = sum(
            w[int(hashlib.md5(t.encode()).hexdigest()[:2], 16)] for t in toks
        )
        assert got[doc_id].logit_milli == logit, (doc_id, text)
        assert got[doc_id].n_tokens == len(toks)
        import math

        want = round(1.0 / (1.0 + math.exp(-(logit / (1000.0 * len(toks))))), 6)
        assert abs(got[doc_id].score - want) < 1e-9


def test_kmeans_refine_improves_centroid_fit(spark):
    """One Lloyd step from the seed centroids must not DECREASE the
    mean member->own-centroid cosine (Lloyd's monotonicity, modulo
    the 12-dp rounding), and the refined centroids are unit-norm."""
    import numpy as np

    from var_elasticnet_bigdata_spark.operators.similarity import (
        cluster_profile,
        kmeans_refine,
        seed_centroids,
    )
    from var_elasticnet_bigdata_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    C0 = seed_centroids(emb, 8)
    rows = kmeans_refine(emb, nlist=8).collect()
    dim = max(r.pos for r in rows) + 1
    C1 = np.zeros((8, dim))
    seen = set()
    for r in rows:
        C1[r.cell, r.pos] = r.c
        seen.add(r.cell)
    for j in sorted(seen):
        assert abs(np.linalg.norm(C1[j]) - 1.0) < 1e-4, j

    def mean_cos(C):
        rows = cluster_profile(emb, centroids=C).collect()
        return sum(r.avg_cos * r.n_members for r in rows) / sum(
            r.n_members for r in rows
        )

    assert mean_cos(C1[sorted(seen)]) >= mean_cos(C0) - 1e-6


def test_bpe_train_matches_local_reference(spark):
    """Full distributed BPE vs a local string-BPE reference (greedy
    left-to-right merge scan) on the same corpus: identical merge
    sequence (count desc, pair asc tiebreak) and identical final
    symbolized vocabulary."""
    from collections import Counter

    from var_elasticnet_bigdata_spark.operators.text import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
        "aaaa aab abab low new",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    # local reference
    wc = Counter(w for t in texts for w in t.split())
    vocab = {tuple(w): c for w, c in wc.items()}

    def ref_round(vocab):
        counts = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += c
        if not counts:
            return None, vocab
        (a, b), c = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        new = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] += cnt
        return (a, b, c), dict(new)

    ref_merges = []
    v = vocab
    for _ in range(6):
        m, v = ref_round(v)
        if m is None or m[2] < 2:
            break
        ref_merges.append(m)

    merges, final = bpe_train(df, rounds=6, min_pair_count=2)
    assert merges == ref_merges and len(merges) >= 4

    got_vocab = Counter()
    for r in final.collect():
        got_vocab[tuple(r.syms)] += r.cnt
    assert got_vocab == Counter(v)


def test_bpe_train_stops_below_min_count(spark):
    from var_elasticnet_bigdata_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(0, "ab cd ef")], "doc_id long, text string"
    )
    merges, _ = bpe_train(df, rounds=5, min_pair_count=2)
    assert merges == []  # every pair occurs once


def test_token_drift_hand_computed(spark):
    """KL contributions on a tiny planted drift: a token only in the
    even slice must rank first with the hand-computed contribution."""
    import math

    from var_elasticnet_bigdata_spark.operators.text import token_drift

    df = spark.createDataFrame(
        [
            (0, "aaa aaa bbb"),
            (2, "aaa bbb"),
            (1, "bbb ccc"),
            (3, "bbb"),
        ],
        "doc_id long, text string",
    )
    rows = token_drift(df, top_n=10).collect()
    # counts: aaa (3, 0), bbb (2, 2), ccc (0, 1); Na=5, Nb=3, V=3
    na, nb, v = 5, 3, 3

    def contrib(ca, cb):
        p = (ca + 1) / (na + v)
        q = (cb + 1) / (nb + v)
        return round(p * math.log(p / q), 6)

    got = {r.token: (r.cnt_a, r.cnt_b, r.contrib) for r in rows}
    assert got["aaa"] == (3, 0, contrib(3, 0))
    assert got["bbb"] == (2, 2, contrib(2, 2))
    assert got["ccc"] == (0, 1, contrib(0, 1))
    assert rows[0].token == "aaa"  # largest positive drift first


def test_bpe_encode_matches_local_reference(spark):
    """Tokenizing with learned merges (`bpe_encode_token_counts`) vs a
    local greedy-scan reference applying the same merge list in order:
    identical token frequencies — the train -> encode loop closed."""
    from collections import Counter

    from var_elasticnet_bigdata_spark.operators.text import (
        bpe_encode_token_counts,
        bpe_train,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide wide",
        "a ab abab low new lowest",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, _ = bpe_train(df, rounds=4, min_pair_count=1, keep_vocab=False)
    assert len(merges) == 4

    def apply_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    ref = Counter()
    for t in texts:
        for w in t.split():
            syms = list(w)
            for a, b, _c in merges:
                syms = apply_merge(syms, a, b)
            ref.update(syms)

    got = {
        r.token: r.cnt
        for r in bpe_encode_token_counts(df, merges, top_n=1000).collect()
    }
    assert got == dict(ref)


def test_kn_perplexity_hand_computed(spark):
    """Kneser-Ney bigram perplexity (the order-N operator at order 2)
    against a fully hand-computed 2-doc corpus: pairs (a,b):2 (b,a):1
    (a,c):1, B=3, D=0.75 -> P(b|a)=(1.25+0.75*2/3)/3, P(a|b)=0.5,
    P(c|a)=0.25; doc 2's single bigram gives perplexity exactly
    1/0.25 = 4."""
    import math

    import pytest as _pytest

    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["perplexity"])
        for r in kn_ngram_perplexity(docs, order=2, discount=0.75).collect()
    }
    assert set(got) == {1, 2}  # <2-token doc omitted
    p_ba = (max(2 - 0.75, 0.0) + 0.75 * 2 * (1 / 3)) / 3
    p_ab = (max(1 - 0.75, 0.0) + 0.75 * 1 * (1 / 3)) / 1
    p_ca = (max(1 - 0.75, 0.0) + 0.75 * 2 * (1 / 3)) / 3
    want1 = round(
        math.exp(-(2 * math.log(p_ba) + math.log(p_ab)) / 3), 6
    )
    assert got[1] == (3, _pytest.approx(want1, abs=1e-6))
    assert got[2] == (1, _pytest.approx(round(1 / p_ca, 6), abs=1e-6))
    assert p_ca == 0.25


def test_kn_perplexity_twin_parity(spark, duck):
    """Spark and the DuckDB twin agree row-for-row at orders 2, 3 and
    5 on a small mixed corpus (model build, P_KN arithmetic, 6-dp
    round); the 3-token docs have no 5-gram and drop out at order 5."""
    from var_elasticnet_bigdata_spark.operators.text import (
        duck_kn_ngram_perplexity_sql,
        kn_ngram_perplexity,
    )

    rows = [
        (
            i,
            f"tok{i % 5} tok{(i + 1) % 5} tok{(i * 3) % 7}"
            + ("" if i % 4 == 0 else f" tok{i % 5} tok{(i * 2) % 3} tok{i % 5}"),
        )
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    duck.execute("CREATE OR REPLACE TABLE kn_docs AS SELECT * FROM (VALUES "
                 + ", ".join(f"({i}, '{t}')" for i, t in rows)
                 + ") t(doc_id, text)")
    for order in (2, 3, 5):
        got = {
            r["doc_id"]: (r["n_ngrams"], r["perplexity"])
            for r in kn_ngram_perplexity(docs, order=order).collect()
        }
        want = {
            r[0]: (r[1], r[2])
            for r in duck.execute(
                duck_kn_ngram_perplexity_sql(order=order, table="kn_docs")
            ).fetchall()
        }
        assert got == want and got, order


def test_sample_domain_cap_properties(spark):
    """<=N per source, deterministic across runs, and salted (NOT the
    first-N-by-id crawl-order artifact)."""
    from var_elasticnet_bigdata_spark.queries import QUERIES

    import os
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    out1 = {
        (r.doc_id, r.source)
        for r in QUERIES["sample_domain_cap"](spark, sf_dir).collect()
    }
    out2 = {
        (r.doc_id, r.source)
        for r in QUERIES["sample_domain_cap"](spark, sf_dir).collect()
    }
    assert out1 == out2
    from collections import Counter

    per_src = Counter(s for _, s in out1)
    assert per_src and all(v <= 10 for v in per_src.values())
    # salted: at least one source keeps a doc that is NOT among its
    # 10 lowest ids (first-N-by-id would always pick those)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lowest = {
        (r.doc_id, r.source)
        for r in docs.selectExpr(
            "doc_id", "source",
            "row_number() over (partition by source order by doc_id) rn",
        ).filter("rn <= 10").select("doc_id", "source").collect()
    }
    assert out1 != lowest


def test_ann_truncation_agree_detects_tail_information(spark):
    """Vectors whose distinguishing signal lives in dims 17-64
    DISAGREE under first-16 truncation; vectors distinguished inside
    dims 1-16 agree — the diagnostic actually measures truncation
    loss."""
    import numpy as np

    from var_elasticnet_bigdata_spark.operators.similarity import (
        cosine_topk,
    )
    from pyspark.sql import functions as F

    # probes 0 and 200: identical first 16 dims, opposite tails;
    # corpus vec 1 matches probe 0's tail, vec 2 matches probe 200's
    base16 = np.ones(16)
    v = {}
    v[0] = np.concatenate([base16, np.ones(48)])
    v[200] = np.concatenate([base16, -np.ones(48)])
    v[1] = np.concatenate([base16 * 0.9, np.ones(48) * 1.1])
    v[2] = np.concatenate([base16 * 0.9, -np.ones(48) * 1.1])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vec]) for i, vec in v.items()],
        "vec_id long, embedding array<float>",
    )
    probes = emb.filter(F.col("vec_id") % 200 == 0)
    full = {
        r.vec_id: r.neighbor_id
        for r in cosine_topk(
            emb, queries=probes, k=1, exclude_self=False
        ).collect()
    }
    emb16 = emb.select(
        "vec_id", F.expr("slice(embedding, 1, 16)").alias("embedding")
    )
    trunc = {
        r.vec_id: r.neighbor_id
        for r in cosine_topk(
            emb16, queries=emb16.filter(F.col("vec_id") % 200 == 0),
            k=1, exclude_self=False,
        ).collect()
    }
    # full-d separates the tails; truncated-16 cannot (1 and 2 have
    # IDENTICAL first-16 dims -> both pick the lowest-id probe)
    assert full[1] == 0 and full[2] == 200
    assert trunc[1] == trunc[2] == 0


def test_kn_perplexity_no_bigrams_friendly_error(spark):
    import pytest as _pytest

    from var_elasticnet_bigdata_spark.operators.text import (
        kn_ngram_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="no 2-grams"):
        kn_ngram_perplexity(docs, order=2).collect()

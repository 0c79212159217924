"""Composed corpus-curation pipeline (beyond-reference surface):
score → filter → exact dedup → MinHash-LSH near-dup drop → corpus
stats, as ONE reusable operator.

Shape notes for scale (SURVEY §4.3 discipline):

- The expensive per-row work (normalize → split → shingle → md5) is
  computed ONCE into a ``__sh`` column; signatures, the content key,
  and candidate verification all derive from it. Composing the
  individual operators naively re-runs the scan+score chain once per
  branch (signatures / verify / keep) — measured 1.7× slower at
  sf0.1.
- The survivor frame is ``persist()``-ed (MEMORY_AND_DISK): it is
  consumed by three downstream branches (signature banding, Jaccard
  verification, final keep/aggregate). At cluster scale this is the
  standard checkpoint between curation stages; for frames beyond
  memory Spark spills to disk per partition — no driver
  materialization anywhere.
- Near-dup policy: drop the HIGHER doc_id of every verified pair
  (deterministic, order-free). This is the usual greedy id-rank
  survivor rule; it needs no transitive closure (no iterative
  connected components) and hence no multi-round shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.cachereg import swap_cache

from .dedup import (
    _band_expr,
    _banded,
    _bucket_pairs,
    _sig_expr,
    _verify,
    normalized_text,
    shingle_hashes_from_words,
)
from .text import lang_id_from, quality_sql_spark


def _exact_survivors(
    docs: DataFrame, min_quality: float, min_tokens: int, *cols: Column | str
) -> DataFrame:
    """The shared prelude of the curation compositions: normalize ONCE,
    split ONCE, score quality and length, keep rows passing both, then
    keep the min-``doc_id`` row per md5 of the normalized text.

    ``cols`` are evaluated beside ``n_tokens`` and ``quality`` over the
    staged ``__norm``, ``__words`` and ``__uw`` (distinct words)
    columns; a staged column no caller reads is pruned from the plan.
    Staging matters: the self-contained per-column expressions
    re-derive the normalization inside every marker/shingle term,
    which blows the codegen tree up ~20× and dominates cold
    wall-clock (9.6 s vs 1.8 s warm at sf0.1 — compile, not compute).

    Exact dedup is ONE shuffle: a min-id window over the content key
    (high-cardinality md5 ⇒ skew-free) instead of groupBy+self-join —
    measured 12.5 s → 4.3 s for the whole curation at sf0.1."""
    staged = (
        docs.withColumn("__norm", normalized_text())
        .withColumn("__words", F.split(F.col("__norm"), " "))
        .withColumn("__uw", F.array_distinct("__words"))
    )
    scored = staged.select(
        "doc_id",
        *cols,
        F.size("__words").alias("n_tokens"),
        F.expr(quality_sql_spark("__norm", "__words")).alias("quality"),
        F.md5(F.col("__norm")).alias("ck"),
    )
    filt = scored.filter(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    w = Window.partitionBy("ck")
    return (
        filt.withColumn("__min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__min_id"))
        .drop("__min_id", "ck")
    )


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.6,
    min_tokens: int = 20,
    ngram: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.35,
) -> DataFrame:
    """Full curation pass over a ``(doc_id, text, ...)`` frame.
    Returns the KEPT documents with their scores:
    ``(doc_id, n_tokens, lang_guess, quality)``."""
    band = _band_expr(num_hashes, bands, rows_per_band)
    surv = swap_cache(
        "curation.curate_survivors",
        _exact_survivors(
            docs,
            min_quality,
            min_tokens,
            lang_id_from("__uw").alias("lang_guess"),
            F.expr(shingle_hashes_from_words("__words", ngram)).alias("__sh"),
        ),
    )
    sigs = surv.select("doc_id", F.expr(_sig_expr(num_hashes)).alias("sig"))
    # shared hot-bucket guard: post-exact-dedup buckets are usually
    # tiny, but boilerplate-heavy corpora can still form huge near-dup
    # families — star-cap the expansion like lsh_candidate_pairs
    cand = _bucket_pairs(_banded(sigs, "doc_id", band), "doc_id", 1024).distinct()
    sh = surv.select("doc_id", F.col("__sh").alias("sh"))
    near = _verify(cand, sh, sh, "doc_id", jaccard_threshold)
    drops = near.select(F.col("id_b").alias("doc_id")).distinct()
    return surv.join(drops, "doc_id", "left_anti").select(
        "doc_id", "n_tokens", "lang_guess", "quality"
    )


def corpus_stats(kept: DataFrame) -> DataFrame:
    """Per-(language, quality-decile) corpus statistics of a curated
    frame."""
    return kept.groupBy(
        "lang_guess",
        F.floor(F.col("quality") * 10).cast("int").alias("q_bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
    )


def training_pipeline(
    docs: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 15,
    contamination_n: int = 8,
    contamination_max: float = 0.5,
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 0.6,
    chunk_size: int = 32,
) -> DataFrame:
    """The end-to-end TRAINING-DATA pipeline over a ``(doc_id, text,
    lang)`` corpus — every stage one of the engine's oracled
    operators, composed on ONE staged normalize/split pass:

    1. quality + length scoring and filter (codegen'd expressions);
    2. exact dedup (min-id survivor per content key, one hash
       shuffle);
    3. deterministic train/test assignment (``hash_split`` rule);
    4. DECONTAMINATION: drop train docs whose ``contamination_n``-gram
       overlap with the (deduped) test split exceeds
       ``contamination_max`` — test-side shingles reduce to a DISTINCT
       set, one uniform hash join, never doc×doc;
    5. salted stratified sampling by ``lang``;
    6. fixed-size token chunking (narrow sequence-explode + slice).

    Returns the train-split training sequences:
    ``(doc_id, chunk_id, n_tokens, chunk_key)``.
    """
    from .split import stratified_sample

    rates = sample_rates or {"en": 0.8, "de": 0.8}
    surv = _exact_survivors(
        docs, min_quality, min_tokens, "lang", "__norm", "__words"
    )
    from .split import hash_split

    lab = swap_cache("curation.training_data_lab", hash_split(surv, "doc_id"))
    sh_expr = F.expr(shingle_hashes_from_words("__words", contamination_n))
    # test-side distinct shingle set (the eval corpus to protect)
    test_sh = (
        lab.filter(F.col("split") == "test")
        .withColumn("__ss", sh_expr)
        .select(
            F.explode(
                F.expr("transform(__ss, s -> s)")  # lambda child: no
                # inferred size() filter re-inlining (see dedup.py)
            ).alias("s")
        )
        .distinct()
        .withColumn("__in_test", F.lit(1))
    )
    train = lab.filter(F.col("split") == "train").withColumn("__ss", sh_expr)
    tr_hits = (
        train.select(
            "doc_id",
            F.explode(F.expr("transform(__ss, s -> s)")).alias("s"),
        )
        .join(test_sh, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.avg(F.coalesce(F.col("__in_test"), F.lit(0)).cast("double")).alias(
                "__contam"
            )
        )
        .filter(F.col("__contam") > contamination_max)
    )
    clean = train.join(tr_hits, "doc_id", "left_anti")
    sampled = stratified_sample(clean, "lang", rates, "doc_id", default_rate)
    # chunking via the shared core over the staged words (empty
    # tokens filtered first — same semantics as text.chunk_tokens)
    from .text import chunk_words_column

    return chunk_words_column(
        sampled.withColumn("__cw", F.expr("filter(__words, w -> w <> '')")),
        "__cw",
        chunk_size,
        None,
        ["doc_id"],
    )


def clean_corpus(
    docs: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 15,
    seg_len: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate-removal curation composition (the C4/CCNet order:
    filter junk, collapse exact copies, THEN line-dedup the
    survivors so boilerplate frequency is counted once per unique
    page): quality+length filter → exact dedup (min-id survivor per
    content key) → segment-level line dedup → per-doc cleanliness
    accounting. Returns ``(doc_id, lang, n_segments, n_kept,
    n_tokens_clean, kept_ratio)``.

    Scale shape: the filter/dedup prelude is one hash shuffle on the
    md5 content key; `line_dedup` adds its two uniform shuffles; the
    final lang join rides the per-doc key. Nothing doc×doc, nothing
    driver-side.
    """
    from .text import line_dedup

    # consumed by line_dedup AND the final lang join: persist so
    # the score/filter/dedup prelude runs once (the curate_corpus
    # survivor-checkpoint pattern); registry-bounded like every other
    # staged frame
    surv = swap_cache(
        "curation.clean_corpus_survivors",
        _exact_survivors(docs, min_quality, min_tokens, "lang", "__words")
        .select("doc_id", "lang", "__words"),
    )
    # hand the staged word arrays straight to line_dedup — re-deriving
    # them from text would run the normalize/split pass twice — and
    # skip the reassembly: the pipeline only needs accounting, so the
    # collect_list-of-strings aggregate (the heaviest part of the
    # regroup) is dropped and kept tokens are summed per segment
    clean = line_dedup(
        surv, seg_len=seg_len, min_docs=min_docs, words_col="__words",
        with_text=False,
    )
    return (
        surv.select("doc_id", "lang")
        .join(clean, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_segments",
            "n_kept",
            F.col("n_tokens_kept").alias("n_tokens_clean"),
            F.round(
                F.col("n_kept") / F.col("n_segments"), 6
            ).alias("kept_ratio"),
        )
    )


def quality_top_fraction(
    docs: DataFrame,
    frac: float,
    group_col: str = "lang",
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Keep the top ``frac`` of documents per group by quality score —
    the percentile-based curation filter (an absolute threshold keeps
    whatever the corpus happens to contain; a per-language percentile
    keeps the BEST slice of each language regardless of its quality
    distribution).

    ``exact=True``: deterministic — rank by (quality desc, id asc)
    within the group and keep ``ceil(frac · n_group)`` rows. One
    per-group sort (windowed, partitioned by the group key — never a
    global sort); ties broken by id so reruns agree row-for-row.

    ``exact=False``: the sort-free scale path — per-group
    ``percentile_approx`` thresholds (one combinable aggregate),
    broadcast back, filter ``quality >= threshold``. No sort at all;
    the kept fraction is approximate near the threshold (relative
    rank error of the sketch), which is the standard trade at
    100 TB. Equivalence-up-to-threshold-ties is pinned in
    tests/test_text_sampling.py.

    Returns the kept rows of ``docs`` with their ``quality``.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    staged = (
        docs.withColumn("__norm", normalized_text())
        .withColumn("__words", F.split(F.col("__norm"), " "))
    )
    scored = staged.select(
        id_col,
        group_col,
        F.expr(quality_sql_spark("__norm", "__words")).alias("quality"),
    )
    if exact:
        w = Window.partitionBy(group_col).orderBy(
            F.col("quality").desc(), F.col(id_col).asc()
        )
        wc = Window.partitionBy(group_col)
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .withColumn("__n", F.count(F.lit(1)).over(wc))
            .filter(
                F.col("__rn") <= F.ceil(F.col("__n") * F.lit(float(frac)))
            )
            .drop("__rn", "__n")
        )
    thr = scored.groupBy(group_col).agg(
        F.percentile_approx("quality", 1.0 - float(frac), 10_000).alias("__thr")
    )
    return (
        scored.join(F.broadcast(thr), group_col)
        .filter(F.col("quality") >= F.col("__thr"))
        .drop("__thr")
    )

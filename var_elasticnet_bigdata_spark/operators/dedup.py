"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
word-shingle MinHash + LSH banding, SimHash, and n-gram Jaccard
near-dup — each expressed with built-in Spark SQL functions so the
whole pipeline stays JVM-side (no Python UDFs in the hot path) and
each step has a DuckDB-runnable oracle twin.

Portability contract with the oracle: the base shingle hash is
``int(md5(s)[:8 hex], 16)`` — identical in Spark
(``conv(substring(md5(s),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(s),1,8))::BIGINT``). MinHash permutations are
``(a·h + b) mod p`` with p = 2³¹−1 and FIXED coefficients below
(generated once, seed 777), so products stay within int64 in both
engines.

Scale notes:
- exact dedup = hash-groupBy on the md5 key: one shuffle keyed by a
  uniform hash — no skew by construction.
- MinHash signatures: narrow per-row transforms (no shuffle).
- LSH banding: explode to (band_idx, band_hash) → the candidate join
  shuffles ONLY bucket keys, never full pairwise; at 100 TB this is
  the standard near-dup layout (bucket sizes bounded ≪ corpus).
- pairwise Jaccard runs on candidates only; the brute-force variant
  exists for oracle checking at small sf.

The near-dup chain is written once, as private helpers that
``minhash_signatures``, ``lsh_candidate_pairs``, ``jaccard_pairs``,
``curation.curate_corpus``, ``incremental_near_dup`` and
``incremental_near_dup_bucketed`` all call: ``_sig_expr`` (the
zip_with signature over a staged ``__sh``), ``_band_expr`` (per-band
md5 of the signature slices; ``keyed`` gives the bucketed store's
``band_idx:md5`` key), ``_banded`` (one row per band),
``_bucket_pairs`` (the in-bucket candidate expansion, star-capped by
``bucket_pair_expr``) and ``_verify`` (the exact 6-dp shingle
Jaccard). ``_check_layout``, which the signature and band builders
call, rejects a hash count past the fixed coefficients and a band
layout that overruns the signature. ``duck_minhash_terms`` is the
signature's DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.cachereg import swap_cache
from ..sources.store import BucketedStore
from ..sources.tables import local_frame

# fixed MinHash permutation coefficients (numpy default_rng(777))
MINHASH_P = 2147483647  # 2^31 − 1
MINHASH_A = [
    1946386326, 1312314221, 757058592, 822092368, 208307138, 1288641640,
    975065322, 2069224763, 690593825, 421255895, 674620553, 723790942,
    745515623, 1220790727, 899191078, 1158765218,
]
MINHASH_B = [
    1063707120, 1580651958, 109346966, 925176330, 2031875823, 123538099,
    1316801183, 356607700, 1353929789, 1626518643, 1102785618, 1460157030,
    1139739634, 1506521993, 902266302, 226044823,
]


def normalized_text(col: str = "text") -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace.
    (DuckDB twin needs the 'g' flag on regexp_replace.)"""
    c = F.lower(F.col(col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def content_key(col: str = "text") -> Column:
    """md5 of the normalized text — the exact-dup group key."""
    return F.md5(normalized_text(col))


def shingle_hashes(text_sql: str, n: int = 3) -> str:
    """SQL expression (usable in Spark `expr` — DuckDB twin differs
    only in hex-cast syntax) producing the distinct shingle hash
    array of a normalized-text expression."""
    return shingle_hashes_from_words(f"split({text_sql},' ')", n)


def with_shingle_hashes(
    df: DataFrame,
    n: int = 3,
    out_col: str = "__sh",
    text_col: str = "text",
) -> DataFrame:
    """Stage the shingle pipeline so each expensive step runs ONCE
    per row (normalize → split → n-gram → md5): inline composition
    re-evaluates the normalization per reference, which doubles scan
    CPU — measured 2× on the sf0.1 bench."""
    words = F.split(normalized_text(text_col), " ")
    df = df.withColumn("__words", words)
    return df.withColumn(
        out_col, F.expr(shingle_hashes_from_words("__words", n))
    ).drop("__words")


def exploded_shingle_hashes(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    out_col: str = "s",
) -> DataFrame:
    """One output row per (input row, DISTINCT shingle hash), with all
    other columns carried through.

    Plan-shape contract: the expensive steps are staged as separate
    projections (normalize→split, then string shingles) and the final
    md5 transform stays INSIDE the explode child as a lambda.
    ``InferFiltersFromGenerate`` only infers a ``size(child) > 0``
    filter for lambda-free generator children; when the child is a
    plain column reference, predicate pushdown then re-inlines the
    entire shingle pipeline into a scan-level Filter — including
    re-evaluating the normalize+split per lambda element — measured
    12.2 s vs 1.2 s on the sf0.1 documents table. Keeping a lambda in
    the child suppresses the (always-true here: ``greatest(..,1)``
    guarantees ≥1 shingle) inferred filter entirely."""
    shing = (
        f"array_distinct(transform(sequence(1, greatest(size(__words)-{n}+1, 1)),"
        f" i -> concat_ws(' ', slice(__words, i, {n}))))"
    )
    return (
        df.withColumn("__words", F.split(normalized_text(text_col), " "))
        .withColumn("__ss", F.expr(shing))
        .drop("__words")
        .select(
            "*",
            F.explode(
                F.expr(
                    "transform(__ss, s -> cast(conv(substring(md5(s),1,8),16,10) as bigint))"
                )
            ).alias(out_col),
        )
        .drop("__ss")
    )


def shingle_hashes_from_words(words_sql: str, n: int = 3) -> str:
    """Shingle-hash array expression over a pre-split word-array
    expression (pass a staged column name to keep trees small)."""
    shing = (
        f"array_distinct(transform(sequence(1, greatest(size({words_sql})-{n}+1, 1)),"
        f" i -> concat_ws(' ', slice({words_sql}, i, {n}))))"
    )
    return (
        f"transform({shing}, s -> cast(conv(substring(md5(s),1,8),16,10) as bigint))"
    )


def norm_sql_spark(col: str = "text") -> str:
    """The shared normalization as a Spark SQL expression over a named
    column — generate per column instead of string-replacing into the
    constant (which would rewrite ANY occurrence of the substring)."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({col}),"
        " '[^a-z0-9 ]', ' '), ' +', ' '))"
    )


def norm_sql_duck(col: str = "text") -> str:
    """DuckDB twin of `norm_sql_spark` (RE2 needs the 'g' flag)."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({col}),"
        " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


NORM_SQL_SPARK = norm_sql_spark()
NORM_SQL_DUCK = norm_sql_duck()


def duck_shingle_hashes(n: int = 3) -> str:
    """DuckDB twin of ``shingle_hashes`` over the normalized text."""
    shing = (
        f"list_distinct(list_transform(range(1, greatest(len(string_split({NORM_SQL_DUCK},' '))-{n}+1, 1)+1),"
        f" i -> array_to_string(list_slice(string_split({NORM_SQL_DUCK},' '), i, i+{n}-1), ' ')))"
    )
    return f"list_transform({shing}, s -> ('0x'||substr(md5(s),1,8))::BIGINT)"


def duck_minhash_terms(k: int) -> list[str]:
    """DuckDB twin of ``_sig_expr``: the first ``k`` permutation
    minima over a shingle-hash list ``sh``, one SQL term each."""
    return [
        f"list_min(list_transform(sh, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(k)
    ]


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: min-id survivor per content key. Hash-groupBy on
    an md5 key — uniformly distributed, skew-free shuffle."""
    return (
        df.withColumn("content_key", content_key(text_col))
        .groupBy("content_key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


# Positional shingle keys use the first POS_SHINGLE_HEX hex chars of
# md5 — 60 bits, not the 32-bit key the distinct-set shingle family
# keeps (ADVICE r8 #2). The run-detection join is collision-SENSITIVE:
# a colliding shingle pair lands on some (doc_a, doc_b) diagonal and
# can extend a real run past min_run_tokens, and collision fan-in
# inflates the frequency-gate counts. Corpus-size bound: with S
# distinct shingles the expected colliding pairs ≈ S²/2^(4·HEX+1), so
# at the 100 TB scale (S ~ 1e12 ≈ 2^40) a 32-bit key collides ~2^47
# times (every gate bucket overflows and dedup silently returns
# nothing), while 60 bits leave ~2^19 collisions — collision fan-in
# per key ≪ 1 and gate counts exact to ~1e-6. 15 hex chars is the
# widest md5 prefix that stays inside a signed int64 on BOTH engines
# (16^15 = 2^60; DuckDB's ('0x'||…)::BIGINT and Spark's
# conv(…,16,10) cast agree exactly).
POS_SHINGLE_HEX = 15


def positional_shingle_hashes(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "s",
) -> DataFrame:
    """``(id_col, pos, out_col)`` — one row per token-position word
    n-gram, positions KEPT (1-based) and duplicates kept, unlike
    `exploded_shingle_hashes`'s distinct set: run detection needs the
    position axis. Same normalization as every other shingle
    consumer, but a WIDER 60-bit (``POS_SHINGLE_HEX`` hex chars of
    md5 — see the constant's corpus-size-bound note) key than the
    32-bit MinHash shingle family: the positional join is
    collision-sensitive where MinHash estimates are not. The hash
    transform stays a lambda inside the generator child (the
    `exploded_shingle_hashes` plan-shape contract — a lambda-free
    child gets the whole shingle pipeline re-inlined into a
    scan-level inferred filter)."""
    sh = (
        f"transform(sequence(1, greatest(size(__words)-{n}+1, 1)),"
        f" i -> cast(conv(substring(md5(concat_ws(' ', slice(__words, i, {n}))),1,{POS_SHINGLE_HEX}),16,10) as bigint))"
    )
    return (
        df.withColumn("__words", F.split(normalized_text(text_col), " "))
        .select(
            F.col(id_col),
            F.posexplode(F.expr(sh)).alias("__p0", out_col),
        )
        .select(id_col, (F.col("__p0") + 1).alias("pos"), out_col)
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> DataFrame:
    """EXACT SUBSTRING dedup (VERDICT r7 item 5) — the Lee-et-al-style
    "~50-token verbatim overlap" pass real pretraining pipelines run
    BETWEEN exact dedup and MinHash: two documents are flagged when
    they share a verbatim run of at least ``min_run_tokens``
    normalized tokens, even if the rest of the documents differ
    completely (so neither exact-hash nor whole-doc Jaccard catches
    them). Returns ``(doc_a, doc_b, overlap_tokens)`` per flagged
    pair, ``doc_a < doc_b``, ``overlap_tokens`` = the longest shared
    run.

    Spark-first shape — the suffix-array algorithm is replaced by a
    relational equivalent that never goes doc×doc:

    1. positional width-``width`` shingle hashes per doc (ONE narrow
       pass, `positional_shingle_hashes`);
    2. a frequency gate drops shingles present in more than
       ``max_docs_per_shingle`` docs (one combinable count on the
       uniform hash key) — boilerplate n-grams are what makes naive
       shingle joins quadratic, and a run consisting ENTIRELY of
       corpus-boilerplate shingles is exactly what substring dedup
       should NOT fire on (it's the MinHash/template pass's job);
    3. the candidate join matches on the shingle hash (uniform key,
       one shuffle, bucket sizes capped by the gate);
    4. a shared run of ``t`` tokens ≡ ``t − width + 1`` consecutive
       matching shingles on one alignment diagonal, so gaps-and-
       islands per ``(doc_a, doc_b, pos_a − pos_b)`` — bounded
       partitioned windows, never a global sort — turns matches into
       run lengths.

    At 100 TB: two shuffles total (frequency gate + pair join), both
    on the uniform 60-bit hash; window partitions are per-(pair,
    diagonal) and capped by doc length. min-run filtering happens
    before the final aggregate, so only flagged pairs reach the
    output. The positional-shingle pass feeds THREE consumers (both
    join sides + the gate), so it's staged once via `swap_cache`
    instead of re-running the normalize/split/md5 corpus scan per
    consumer.

    GATE SIZING vs duplication multiplicity K (VERDICT r8 item 6): a
    doc duplicated K× lifts each of its shingles' distinct-doc counts
    to K·f (f = the shingle's natural cross-doc frequency, ~1 for
    non-boilerplate text). While K·f <= max_docs_per_shingle the
    shingle passes the gate and the pair OUTPUT carries a
    C(K·f, 2) ≈ (K·f)²/2 term per distinct shingle — the quadratic is
    the output, not the join (measured on the exact-copy replica:
    ×10 → ~20× shuffle bytes, ×30 → see SCALING.md §r9); once
    K·f > max_docs_per_shingle the shingle is DROPPED and the
    duplication becomes invisible to THIS pass — a cliff, not a cap,
    which is correct division of labor (byte-identical mega-clusters
    are exact dedup's job and must be removed BEFORE this join; at
    the default gate 64, any ≥65-fold verbatim replication that
    exact/MinHash passes somehow missed is silently skipped here).
    Sizing rule for a corpus whose largest legitimate multiplicity is
    K_max: set max_docs_per_shingle >= K_max·f_typ, and budget output
    bytes ≈ S_distinct · C(min(K·f, gate), 2)/(K·f) — e.g. a 100×
    replicated corpus needs gate >= 100 to still see the replication
    and will pay the ~100²/2-per-shingle pair output for it."""
    from ..plans.cachereg import swap_cache

    ps = swap_cache(
        "dedup.substring_shingles",
        positional_shingle_hashes(
            df, n=width, id_col=id_col, text_col=text_col
        ),
        eager=True,  # concurrent first consumers (both join arms)
    )
    keep = (
        ps.groupBy("s")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") <= max_docs_per_shingle)
        .select("s")
    )
    gated = ps.join(keep, "s", "left_semi")
    a = gated.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "s"
    )
    b = gated.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "s"
    )
    m = a.join(b, "s").filter(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("__g", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "__g")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg((F.max("__run") + F.lit(width - 1)).alias("overlap_tokens"))
        .filter(F.col("overlap_tokens") >= min_run_tokens)
    )


def substring_overlap_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
    against: DataFrame | None = None,
) -> DataFrame:
    """Token-span form of `substring_dedup`: for every qualifying
    verbatim run, the 1-based normalized-token span it covers in the
    flagged doc — ``(id_col, span_start, span_end)``, one row per
    (partner, diagonal) island, spans may overlap (the scrub consumes
    them with an any-span membership test, so no merge pass is
    needed).

    Two modes:
    - ``against=None`` (within-corpus): the HIGHER-id doc of each
      pair is spanned; the LOWER-id first copy is the one a
      Lee-et-al-style pipeline keeps.
    - ``against=<protected frame>`` (cross-corpus DECONTAMINATION):
      every ``df`` doc sharing a run with ANY ``against`` doc is
      spanned, regardless of ids (ids must be globally unique across
      the two frames — true for a split of one table; the frequency
      gate counts distinct docs over both sides together).

    Same pipeline as `substring_dedup` through the islands stage; the
    island's shingle START positions [min_p, max_p] cover tokens
    [min_p, max_p + width − 1]."""
    from ..plans.cachereg import swap_cache

    ps = swap_cache(
        "dedup.substring_span_shingles",
        positional_shingle_hashes(
            df, n=width, id_col=id_col, text_col=text_col
        ),
        eager=True,  # concurrent first consumers (both join arms)
    )
    if against is None:
        gate_src = ps
    else:
        ps_part = swap_cache(
            "dedup.substring_span_shingles_against",
            positional_shingle_hashes(
                against, n=width, id_col=id_col, text_col=text_col
            ),
            eager=True,
        )
        gate_src = ps.unionByName(ps_part)
    keep = (
        gate_src.groupBy("s")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") <= max_docs_per_shingle)
        .select("s")
    )
    cand = ps.join(keep, "s", "left_semi").select(
        F.col(id_col).alias("__b"), F.col("pos").alias("pb"), "s"
    )
    part = (ps if against is None else ps_part).join(
        keep, "s", "left_semi"
    ).select(F.col(id_col).alias("__a"), F.col("pos").alias("pa"), "s")
    m = cand.join(part, "s")
    if against is None:
        m = m.filter(F.col("__a") < F.col("__b"))
    m = m.select(
        "__a", "__b", F.col("pb").alias("p"),
        (F.col("pb") - F.col("pa")).alias("diag"),
    )
    w = Window.partitionBy("__a", "__b", "diag").orderBy("p")
    return (
        m.withColumn("__g", F.col("p") - F.row_number().over(w))
        .groupBy("__a", "__b", "diag", "__g")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(width - 1)).alias("span_end"),
        )
        .filter(
            F.col("span_end") - F.col("span_start") + 1 >= min_run_tokens
        )
        .select(F.col("__b").alias(id_col), "span_start", "span_end")
    )


def substring_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> DataFrame:
    """SURGICAL substring dedup — what the Lee-et-al pipeline actually
    does to the corpus: instead of dropping a document that shares a
    ≥``min_run_tokens`` verbatim run with an earlier one, REMOVE the
    repeated span from the later document and keep the rest. Returns
    ``(id_col, n_kept, n_removed, text_clean)`` over the whole corpus
    (``text_clean`` rebuilt from the KEPT normalized tokens; original
    casing/punctuation inside scrubbed docs is not preserved — the
    normalized stream is what training pipelines tokenize anyway, and
    untouched docs keep n_removed = 0 so callers can pass their
    original text through unchanged).

    Relational shape: `substring_overlap_spans` (never doc×doc) →
    one narrow posexplode of the normalized tokens → a broadcast-able
    span membership join (token kept iff inside NO span of its doc —
    overlapping spans need no merge pass under this test) → one
    ordered re-aggregation per doc. The only shuffles are the span
    pipeline's two uniform-hash ones plus the final per-doc group."""
    spans = substring_overlap_spans(
        df,
        id_col=id_col,
        text_col=text_col,
        width=width,
        min_run_tokens=min_run_tokens,
        max_docs_per_shingle=max_docs_per_shingle,
    )
    return _scrub_with_spans(df, spans, id_col, text_col)


def _scrub_with_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Token removal shared by `substring_scrub` and
    `decontaminate_spans`: one narrow token explode, an any-span
    membership join (overlapping spans need no merge under this
    test), one ordered per-doc re-aggregation."""
    toks = (
        df.withColumn("__words", F.split(normalized_text(text_col), " "))
        .select(
            F.col(id_col),
            F.posexplode("__words").alias("__p0", "__w"),
        )
        .select(id_col, (F.col("__p0") + 1).alias("pos"), "__w")
    )
    marked = (
        toks.join(
            spans.withColumnRenamed(id_col, "__sid"),
            (F.col(id_col) == F.col("__sid"))
            & (F.col("pos") >= F.col("span_start"))
            & (F.col("pos") <= F.col("span_end")),
            "left",
        )
        .groupBy(id_col, "pos", "__w")
        .agg(F.max(F.col("__sid").isNotNull().cast("int")).alias("__cut"))
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.sum(F.lit(1) - F.col("__cut")).alias("n_kept"),
            F.sum("__cut").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__cut") == 0,
                                F.struct(
                                    F.col("pos"), F.col("__w").alias("w")
                                ),
                            )
                        )
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )


def decontaminate_spans(
    train: DataFrame,
    protected: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> DataFrame:
    """SPAN-LEVEL train/benchmark decontamination — the production
    follow-up to `split_contamination`'s hit-ratio report: find every
    ≥``min_run_tokens``-token verbatim run a training document shares
    with the PROTECTED corpus (benchmarks, eval sets) and REMOVE just
    those spans, keeping the rest of the document (dropping whole
    docs over one quoted benchmark line wastes data; leaving the line
    in leaks the benchmark). Returns the same
    ``(id_col, n_kept, n_removed, text_clean)`` contract as
    `substring_scrub`, over every train doc.

    Scale shape: identical to `substring_scrub` (positional shingles,
    frequency gate over both corpora, one uniform-hash join keyed by
    the PROTECTED side — benchmark-sized, so candidate fan-out is
    bounded by the protected corpus, not train×train) — never
    doc×doc, no suffix arrays."""
    spans = substring_overlap_spans(
        train,
        id_col=id_col,
        text_col=text_col,
        width=width,
        min_run_tokens=min_run_tokens,
        max_docs_per_shingle=max_docs_per_shingle,
        against=protected,
    )
    return _scrub_with_spans(train, spans, id_col, text_col)


def duck_substring_scrub_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> str:
    """DuckDB twin of ``substring_scrub`` (same spans, same any-span
    membership test, same ordered re-aggregation)."""
    return f"""
        WITH src AS ({source_sql}),
        w AS (SELECT {id_col}, string_split({NORM_SQL_DUCK}, ' ') AS words
              FROM src),
        ps AS (
          SELECT {id_col}, t.i AS pos,
                 ('0x'||substr(md5(array_to_string(
                     list_slice(words, t.i, t.i+{width}-1), ' ')),1,{POS_SHINGLE_HEX}))::BIGINT AS s
          FROM w, UNNEST(range(1, greatest(len(words)-{width}+1, 1)+1)) AS t(i)),
        keep AS (SELECT s FROM ps GROUP BY s
                 HAVING COUNT(DISTINCT {id_col}) <= {max_docs_per_shingle}),
        m AS (
          SELECT a.{id_col} AS b, a.pos AS p, a.pos - pt.pos AS diag,
                 pt.{id_col} AS a
          FROM ps a
          JOIN keep k ON k.s = a.s
          JOIN ps pt ON pt.s = a.s AND pt.{id_col} < a.{id_col}),
        isl AS (
          SELECT a, b, diag, p,
                 p - ROW_NUMBER() OVER (PARTITION BY a, b, diag
                                        ORDER BY p) AS g
          FROM m),
        spans AS (
          SELECT b AS {id_col}, MIN(p) AS s0,
                 MAX(p) + {width - 1} AS e0
          FROM isl GROUP BY a, b, diag, g
          HAVING MAX(p) + {width - 1} - MIN(p) + 1 >= {min_run_tokens}),
        toks AS (
          SELECT {id_col}, t.i AS pos, words[t.i] AS tok
          FROM w, UNNEST(range(1, len(words)+1)) AS t(i)),
        marked AS (
          SELECT t.{id_col}, t.pos, t.tok,
                 MAX(CASE WHEN sp.{id_col} IS NULL THEN 0 ELSE 1 END) AS cut
          FROM toks t
          LEFT JOIN spans sp
            ON sp.{id_col} = t.{id_col}
           AND t.pos BETWEEN sp.s0 AND sp.e0
          GROUP BY 1, 2, 3)
        SELECT {id_col},
               CAST(SUM(1 - cut) AS BIGINT) AS n_kept,
               CAST(SUM(cut) AS BIGINT) AS n_removed,
               COALESCE(string_agg(CASE WHEN cut = 0 THEN tok END, ' '
                                   ORDER BY pos), '') AS text_clean
        FROM marked GROUP BY 1
    """


def incremental_substring_dedup_bucketed(
    batch: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
    buckets: int = 32,
    path: str | None = None,
    on_survivors=None,
    fresh: bool = False,
) -> DataFrame:
    """Substring dedup of a NEW batch against ALL previously seen
    documents via a persisted positional-shingle store — the fourth
    member of the incremental-store family (exact keys / MinHash
    bands / semantic cells / THIS): each crawl batch is checked for a
    ≥``min_run_tokens``-token verbatim run against the whole accepted
    history without re-reading any earlier batch's text.

    The store ``{store_name}__psh`` holds ``(s, id_col, pos)`` —
    every seen document's positional ``width``-gram shingle hashes —
    BUCKETED and sorted on ``s``, so the per-batch candidate join
    reads the store already partitioned on the join key (zero
    store-side Exchange; only the batch shuffles, on the same hash
    its in-batch pass needs anyway).

    SEEN-SET semantics (like the semantic store): a batch doc is
    dropped iff it shares a qualifying run with ANY lower-id seen
    doc — kept or dropped — so the store appends EVERY batch row's
    shingles; with append-only ascending ids this reproduces the
    id-greedy rule batch-by-batch.

    The hot-shingle frequency gate is computed over store ∪ batch,
    SCOPED to the current batch's shingle set (the ADVICE-r7 budget
    pattern: one combinable count per probed hash, never a full-store
    scan) and applied to BOTH match arms — boilerplate runs stay the
    MinHash pass's job and the join stays linear as history grows.

    Crash contract, ``on_survivors`` and ``fresh``: `sources/store.py`.
    Duplicate match rows from a replayed append are deduplicated
    before run counting, so island lengths stay exact.
    """
    store = BucketedStore(
        batch.sparkSession, store_name, {"psh": "s"}, buckets=buckets,
        path=path, fresh=fresh,
    )

    ps = swap_cache(
        "dedup.incremental_substring_psh",
        positional_shingle_hashes(
            batch, n=width, id_col=id_col, text_col=text_col
        ),
        # eager: the gate/join/store-append consumers fan out as
        # concurrent AQE stages and broadcast builds — lazily
        # persisted, each re-ran the whole shingle chain (profiled:
        # 11 concurrent single-task recomputes of the same lineage)
        eager=True,
    )
    # Gate = ONE COUNT(DISTINCT id) over the UNION of (s, id) rows
    # from store and batch, scoped to the batch's shingle set — the
    # same expression the DuckDB twin and the full-corpus pass use.
    # Summing per-side distinct counts (the pre-r9 form) double-counts
    # every doc a crash-replayed batch has in BOTH sides, so shingles
    # whose true distinct-doc count sits in (max/2, max] got gated out
    # only on replay and the replayed batch could KEEP docs it
    # originally dropped (ADVICE r8 #1, medium).
    if store.exists:
        psh = store.table("psh")
        probed = psh.join(
            F.broadcast(ps.select("s").distinct()), "s", "left_semi"
        ).select("s", id_col)
        seen = ps.select("s", id_col).unionByName(probed)
    else:
        seen = ps.select("s", id_col)
    # keep feeds gated AND the store-side arm; gated feeds both match
    # arms (cand twice on the store batch, part once) — as separate
    # AQE stage-jobs with different projections below the exchange,
    # so ReuseExchange cannot collapse them and each arm re-ran the
    # gate aggregation (profiled: the same 33-task subtree executing
    # 4x concurrently). Stage both once.
    keep = swap_cache(
        "dedup.incremental_substring_keep",
        seen.groupBy("s")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") <= max_docs_per_shingle)
        .select("s"),
        eager=True,
    )

    gated = swap_cache(
        "dedup.incremental_substring_gated",
        ps.join(keep, "s", "left_semi"),
        eager=True,
    )
    cand = gated.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pb"), "s"
    )
    part = gated.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "s"
    )
    m = (
        cand.join(part, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", F.col("pb").alias("p"),
            (F.col("pb") - F.col("pa")).alias("diag"),
        )
    )
    if store.exists:
        part_s = psh.join(keep, "s", "left_semi").select(
            F.col(id_col).alias("doc_a"), F.col("pos").alias("pa"), "s"
        )
        m_store = (
            cand.join(part_s, "s")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a", "doc_b", F.col("pb").alias("p"),
                (F.col("pb") - F.col("pa")).alias("diag"),
            )
        )
        # dropDuplicates: a crash-replayed batch has its own shingles
        # in BOTH the store and the batch, which would double every
        # match row and inflate island run lengths
        m = m.unionByName(m_store).dropDuplicates(
            ["doc_a", "doc_b", "diag", "p"]
        )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("p")
    runs = (
        m.withColumn("__g", F.col("p") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "__g")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    dropped = runs.filter(
        F.col("__run") + F.lit(width - 1) >= min_run_tokens
    ).select(F.col("doc_b").alias(id_col))
    return store.commit(
        batch, dropped, id_col, on_survivors,
        lambda drops: {"psh": ps.select("s", id_col, "pos")},
    )


def duck_incremental_substring_sql(
    splits: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> str:
    """DuckDB twin of ``incremental_substring_dedup_bucketed`` run
    over successive batches: ``splits`` are SQL predicates over
    ``{table}`` defining each batch in order. Batch-by-batch is
    replayed EXACTLY — each stage's frequency gate counts distinct
    docs over (history ∪ batch), matching only that stage's
    candidates — because the gate makes the incremental run
    legitimately different from one full-corpus pass (a shingle can
    be cool early and hot later). Emits ``({id_col}, is_dup)`` for
    every input doc."""
    stages = []
    drop_names = []
    for i, pred in enumerate(splits):
        hist = " OR ".join(f"({p})" for p in splits[: i + 1])
        b, g, mm, ii, rr = f"b{i}", f"g{i}", f"m{i}", f"i{i}", f"r{i}"
        stages.append(f"""
        {b} AS (SELECT * FROM ps WHERE {pred}),
        {g} AS (SELECT s FROM ps WHERE {hist} GROUP BY s
                HAVING COUNT(DISTINCT {id_col}) <= {max_docs_per_shingle}),
        {mm} AS (
          SELECT p.{id_col} AS doc_a, c.{id_col} AS doc_b, c.pos AS p,
                 c.pos - p.pos AS diag
          FROM {b} c
          JOIN {g} ON {g}.s = c.s
          JOIN (SELECT * FROM ps WHERE {hist}) p
            ON p.s = c.s AND p.{id_col} < c.{id_col}),
        {ii} AS (
          SELECT doc_a, doc_b, diag,
                 p - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                        ORDER BY p) AS grp
          FROM {mm}),
        {rr} AS (
          SELECT DISTINCT doc_b AS {id_col} FROM {ii}
          GROUP BY doc_a, doc_b, diag, grp
          HAVING COUNT(*) + {width - 1} >= {min_run_tokens})""")
        drop_names.append(rr)
    dropped_union = " UNION ".join(f"SELECT {id_col} FROM {r}" for r in drop_names)
    return f"""
        WITH w AS (SELECT {id_col}, string_split({NORM_SQL_DUCK}, ' ') AS words
                   FROM {table}),
        ps AS (
          SELECT {id_col}, t.i AS pos,
                 ('0x'||substr(md5(array_to_string(
                     list_slice(words, t.i, t.i+{width}-1), ' ')),1,{POS_SHINGLE_HEX}))::BIGINT AS s
          FROM w, UNNEST(range(1, greatest(len(words)-{width}+1, 1)+1)) AS t(i)),
        {", ".join(stages)},
        dropped AS ({dropped_union})
        SELECT t.{id_col},
               CAST(CASE WHEN d.{id_col} IS NULL THEN 0 ELSE 1 END AS INT)
                 AS is_dup
        FROM {table} t LEFT JOIN dropped d ON d.{id_col} = t.{id_col}
    """


def duck_decontaminate_sql(
    train_pred: str,
    protected_pred: str,
    table: str = "documents",
    id_col: str = "doc_id",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> str:
    """DuckDB twin of ``decontaminate_spans`` where the train and
    protected corpora are predicates over one table (the gated
    query's split case): union frequency gate, train×protected span
    islands, any-span removal, ordered text rebuild."""
    return f"""
        WITH w AS (SELECT {id_col}, string_split({NORM_SQL_DUCK}, ' ') AS words
                   FROM {table}),
        ps AS (
          SELECT {id_col}, t.i AS pos,
                 ('0x'||substr(md5(array_to_string(
                     list_slice(words, t.i, t.i+{width}-1), ' ')),1,{POS_SHINGLE_HEX}))::BIGINT AS s
          FROM w, UNNEST(range(1, greatest(len(words)-{width}+1, 1)+1)) AS t(i)),
        pst AS (SELECT * FROM ps WHERE {train_pred}),
        psp AS (SELECT * FROM ps WHERE {protected_pred}),
        keep AS (
          SELECT s FROM (SELECT s, {id_col} FROM pst
                         UNION ALL SELECT s, {id_col} FROM psp)
          GROUP BY s HAVING COUNT(DISTINCT {id_col}) <= {max_docs_per_shingle}),
        m AS (
          SELECT pr.{id_col} AS a, t.{id_col} AS b, t.pos AS p,
                 t.pos - pr.pos AS diag
          FROM pst t
          JOIN keep k ON k.s = t.s
          JOIN psp pr ON pr.s = t.s),
        isl AS (
          SELECT a, b, diag, p,
                 p - ROW_NUMBER() OVER (PARTITION BY a, b, diag
                                        ORDER BY p) AS g
          FROM m),
        spans AS (
          SELECT b AS {id_col}, MIN(p) AS s0,
                 MAX(p) + {width - 1} AS e0
          FROM isl GROUP BY a, b, diag, g
          HAVING MAX(p) + {width - 1} - MIN(p) + 1 >= {min_run_tokens}),
        toks AS (
          SELECT {id_col}, t.i AS pos, words[t.i] AS tok
          FROM w, UNNEST(range(1, len(words)+1)) AS t(i)
          WHERE {train_pred}),
        marked AS (
          SELECT t.{id_col}, t.pos, t.tok,
                 MAX(CASE WHEN sp.{id_col} IS NULL THEN 0 ELSE 1 END) AS cut
          FROM toks t
          LEFT JOIN spans sp
            ON sp.{id_col} = t.{id_col}
           AND t.pos BETWEEN sp.s0 AND sp.e0
          GROUP BY 1, 2, 3)
        SELECT {id_col},
               CAST(SUM(1 - cut) AS BIGINT) AS n_kept,
               CAST(SUM(cut) AS BIGINT) AS n_removed,
               COALESCE(string_agg(CASE WHEN cut = 0 THEN tok END, ' '
                                   ORDER BY pos), '') AS text_clean
        FROM marked GROUP BY 1
    """


def duck_substring_dedup_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
    width: int = 8,
    min_run_tokens: int = 20,
    max_docs_per_shingle: int = 64,
) -> str:
    """DuckDB twin of ``substring_dedup`` (same normalization, same
    positional hash, same frequency gate, same gaps-and-islands)."""
    return f"""
        WITH src AS ({source_sql}),
        w AS (SELECT {id_col}, string_split({NORM_SQL_DUCK}, ' ') AS words
              FROM src),
        ps AS (
          SELECT {id_col}, t.i AS pos,
                 ('0x'||substr(md5(array_to_string(
                     list_slice(words, t.i, t.i+{width}-1), ' ')),1,{POS_SHINGLE_HEX}))::BIGINT AS s
          FROM w, UNNEST(range(1, greatest(len(words)-{width}+1, 1)+1)) AS t(i)),
        keep AS (SELECT s FROM ps GROUP BY s
                 HAVING COUNT(DISTINCT {id_col}) <= {max_docs_per_shingle}),
        m AS (
          SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, a.pos AS pa,
                 a.pos - b.pos AS diag
          FROM ps a
          JOIN keep k ON k.s = a.s
          JOIN ps b ON b.s = a.s AND a.{id_col} < b.{id_col}),
        isl AS (
          SELECT doc_a, doc_b, diag,
                 pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                         ORDER BY pa) AS g
          FROM m),
        runs AS (SELECT doc_a, doc_b, COUNT(*) AS run
                 FROM isl GROUP BY doc_a, doc_b, diag, g)
        SELECT doc_a, doc_b,
               CAST(MAX(run) + {width - 1} AS BIGINT) AS overlap_tokens
        FROM runs GROUP BY doc_a, doc_b
        HAVING MAX(run) + {width - 1} >= {min_run_tokens}
    """


def exact_dedup_best_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup keeping the HIGHEST-QUALITY duplicate instead of
    the min-id one — the survivor rule real curation pipelines want
    (crawl snapshots of the same page differ in boilerplate; keep the
    cleanest copy). Survivor = argmax(quality, ties to the LOWEST
    id), expressed as ONE lexicographic struct ``max`` inside the
    same single content-key groupBy as `exact_dedup` — map-side
    combinable, no per-group window, no second shuffle. Quality is
    the 6-dp composite score (`text.QUALITY_SQL_SPARK`), so the
    argmax compares on the same grid as the twin. Returns
    ``(content_key, doc_id, quality, dup_count)``.
    """
    from .text import QUALITY_SQL_SPARK  # local: text.py imports dedup

    keyed = df.select(
        F.col(id_col),
        content_key(text_col).alias("content_key"),
        F.expr(QUALITY_SQL_SPARK).alias("__q"),
    )
    agg = keyed.groupBy("content_key").agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.max(
            F.struct(
                F.col("__q").alias("q"), (-F.col(id_col)).alias("nid")
            )
        ).alias("best"),
    )
    return agg.select(
        "content_key",
        (-F.col("best.nid")).alias(id_col),
        F.col("best.q").alias("quality"),
        "dup_count",
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — narrow, shuffle-free."""
    return with_shingle_hashes(df, n, text_col=text_col).select(
        F.col(id_col), F.expr(_sig_expr(num_hashes)).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    num_hashes: int = 16,
    star_over: int | None = 1024,
) -> DataFrame:
    """Band the signature, bucket-join within (band_idx, band_hash):
    the candidate generation step of MinHash-LSH. Returns distinct
    (id_a, id_b) with id_a < id_b.

    ``num_hashes`` must state the signature length: a band layout
    that overruns it is rejected (``_check_layout``), since every
    overflow band would bucket all documents together.

    ``star_over``: buckets larger than this emit STAR pairs (every
    member against the bucket minimum) instead of all pairs. In-bucket
    expansion is O(d²) per bucket in one task — web-scale corpora
    carry mega-duplicate clusters (boilerplate pages duplicated 10⁵+
    times) whose single bucket would otherwise materialize billions
    of pairs and OOM the executor. Star pairing keeps O(d) pairs and
    preserves exactly what downstream consumers need: every true
    duplicate still pairs with (and Jaccard-verifies against) the
    cluster representative, so drop-higher-id survivorship and
    connected components reach the same clusters. Pass ``None`` for
    the unconditional all-pairs behavior (the bench/oracle queries
    pin caps far above their data so the candidate set is unchanged).
    """
    band = _band_expr(num_hashes, bands, rows_per_band)
    return _bucket_pairs(_banded(sigs, id_col, band), id_col, star_over).distinct()


def bucket_pair_expr(star_over: int | None) -> str:
    """In-bucket candidate expansion over a sorted ``ids`` array
    column: all-pairs below ``star_over``, star pairs (each member vs
    the bucket minimum) above it — the mega-duplicate-cluster guard
    of ``_bucket_pairs``."""
    all_pairs = (
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x AS id_a, y AS id_b))))"
    )
    if star_over is None:
        return all_pairs
    star = (
        "transform(slice(ids, 2, size(ids) - 1),"
        " y -> struct(ids[0] AS id_a, y AS id_b))"
    )
    return (
        f"CASE WHEN size(ids) > {int(star_over)}"
        f" THEN {star} ELSE {all_pairs} END"
    )


def _check_layout(num_hashes: int, bands: int = 1, rows_per_band: int = 1) -> None:
    """Reject a hash count beyond the fixed coefficients and a band
    layout that overruns the signature: ``slice`` returns an EMPTY
    array for every overflow band, so each document would hash
    md5('') there and the whole batch would share one bucket."""
    if not 1 <= num_hashes <= len(MINHASH_A):
        raise ValueError(
            f"num_hashes must be in [1, {len(MINHASH_A)}] (fixed seeded "
            f"permutation coefficients), got {num_hashes}"
        )
    if bands < 1 or rows_per_band < 1 or bands * rows_per_band > num_hashes:
        raise ValueError(
            f"bands={bands} x rows_per_band={rows_per_band} does not fit "
            f"the {num_hashes}-hash signature: overflow bands would hash "
            "an empty slice and bucket the whole corpus together"
        )


def _sig_expr(num_hashes: int) -> str:
    """MinHash signature over a staged ``__sh`` column as one zip_with
    loop over the coefficient arrays: the same values as num_hashes
    unrolled ``array_min`` terms, a fraction of the generated code.

    ``__sh`` enters as the argument of a one-element ``transform``
    (``flatten`` unwraps it), never inside the zip_with lambda:
    CollapseProject inlines a staged column its consumer reads once,
    and inside the lambda the whole shingle pipeline would then run
    once per hash (measured 2.8 s vs 0.6 s for 16 hashes over the
    sf0.1 documents)."""
    _check_layout(num_hashes)
    a = ", ".join(f"{MINHASH_A[i]}L" for i in range(num_hashes))
    b = ", ".join(f"{MINHASH_B[i]}L" for i in range(num_hashes))
    return (
        f"flatten(transform(array(__sh), s -> zip_with(array({a}), array({b}),"
        f" (a, b) -> array_min(transform(s, h -> ((a * h + b) % {MINHASH_P}L))))))"
    )


def _band_expr(
    num_hashes: int, bands: int, rows_per_band: int, keyed: bool = False
) -> str:
    """Per-band md5 of the ``sig`` column's ``rows_per_band``-wide
    slices; ``keyed`` prefixes each with its band index as
    ``band_idx:md5``, the key format the bucketed store persists."""
    _check_layout(num_hashes, bands, rows_per_band)
    h = f"md5(concat_ws(',', slice(sig, b*{rows_per_band}+1, {rows_per_band})))"
    if keyed:
        h = f"concat_ws(':', b, {h})"
    return f"transform(sequence(0, {bands - 1}), b -> {h})"


def _banded(frame: DataFrame, id_col: str, band: str) -> DataFrame:
    """One ``(id_col, band_idx, band_hash)`` row per band of ``band``."""
    return frame.select(
        F.col(id_col),
        F.posexplode(F.expr(band)).alias("band_idx", "band_hash"),
    )


def _bucket_pairs(
    banded: DataFrame, id_col: str, star_over: int | None
) -> DataFrame:
    """``(id_a, id_b)`` candidates inside each bucket of ``banded``
    (keyed by every column but ``id_col``), id_a < id_b, NOT distinct.

    One bucket groupBy, not a banded⋈banded self-join: the self-join
    evaluates the signature pipeline once per side (Spark can't share
    an uncached subtree across join sides — measured 5.6 s vs 1.6 s
    on the sf0.1 documents table) and shuffles a band row per side;
    this shape shuffles each (band, id) once and expands the sorted
    bucket with ``bucket_pair_expr``."""
    keys = [c for c in banded.columns if c != id_col]
    return (
        banded.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(bucket_pair_expr(star_over))).alias("p"))
        .select("p.id_a", "p.id_b")
    )


def _verify(
    cand: DataFrame | None,
    a_frame: DataFrame,
    b_frame: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """The exact verify step: candidate ``(id_a, id_b)`` pairs whose
    ``sh`` shingle sets (looked up in ``a_frame`` / ``b_frame`` by
    ``id_col``) reach ``threshold`` Jaccard on the 6-dp grid, with
    that ``jaccard``. ``cand=None`` verifies every id_a < id_b pair
    (brute force: the oracle path, small inputs only)."""
    a = a_frame.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = b_frame.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    if cand is None:
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return pairs.withColumn("jaccard", F.round(inter / union, 6)).filter(
        F.col("jaccard") >= threshold
    )


def hamming_near_dup_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
) -> DataFrame:
    """Hamming-banded near-dup candidate join over any ``bits``-wide
    integer fingerprint column (SimHash, image dHash/aHash): split the
    hash into ``bands`` contiguous bit bands; by pigeonhole, two
    hashes within Hamming distance ``max_hamming < bands`` agree on at
    least one whole band, so the candidate join keys on
    ``(band_idx, band_value)`` — a uniform integer key — and NEVER
    goes item×item. Returns ``(id_a, id_b, hamming)`` with
    ``id_a < id_b`` and ``hamming <= max_hamming``.

    Scale shape: the band explode is narrow (``bands`` rows per item);
    ONE (band_idx, band_value) shuffle builds the buckets (the
    `lsh_candidate_pairs` one-groupBy shape — a banded⋈banded
    self-join would evaluate and shuffle the hash frame twice); the
    frequency gate drops buckets holding more than
    ``max_ids_per_bucket`` ids — a byte-identical mega-cluster shares
    ALL bands and is exact-dedup's job (same division of labor as the
    substring gate), and the gate is what bounds in-bucket pair
    expansion at 100 TB. Hashes ride inside the bucket structs, so
    the exact Hamming verify (``bit_count(xor)``) needs no join back
    against the corpus. Band extraction is an arithmetic shift + mask,
    identical on signed int64 in Spark and DuckDB (the mask discards
    the sign-fill bits on both engines)."""
    _check_bands(bits, bands, max_hamming)
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = hashed.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> shiftright({hash_col}, b * {band_bits}) & {mask})"
            )
        ).alias("band_idx", "band_val"),
    )
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
                    )
                )
            ).alias("ids")
        )
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= max_ids_per_bucket)
        )
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)),"
        " y -> struct(x.id AS id_a, x.h AS ha, y.id AS id_b, y.h AS hb))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(
            "p.id_a",
            "p.id_b",
            F.expr("bit_count(p.ha ^ p.hb)").cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def video_near_dup_pairs(
    frames: DataFrame,
    id_col: str = "doc_id",
    frame_col: str = "frame_idx",
    hash_col: str = "dhash",
    min_matching_frames: int = 2,
    frame_base: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
) -> DataFrame:
    """Video near-dup from frame-sampled perceptual fingerprints
    (r10, VERDICT r9 missing item 2): each video is a SET of
    per-frame 64-bit dHashes (`multimodal.video_frame_dhash`); two
    videos are near-dups when at least ``min_matching_frames``
    distinct frame pairs match within ``max_hamming`` bits — the
    rule that survives re-containering (different fps/mux/junk
    chunks), re-encoding, and single-frame edits, none of which an
    exact container hash survives.

    Implementation: frames become pseudo-items with the composite id
    ``doc_id·frame_base + frame_idx`` and ride the EXISTING
    Hamming-banded join (`hamming_near_dup_pairs` — bands explode
    narrow, ONE (band_idx, band_val) shuffle, ≤``max_ids_per_bucket``
    gate); matched frame pairs then roll up per (doc_a, doc_b) with
    one combinable count-distinct. Composite monotonicity gives
    ``doc_a < doc_b`` for free on cross-doc pairs. Scale shape:
    frames_per_doc × corpus rows through one banded shuffle — linear
    in total sampled frames, never video×video.

    Returns ``(id_a, id_b, n_matching_frames)``."""
    comp = frames.select(
        # assert_true makes an out-of-range frame index or a negative
        # doc id a loud task failure instead of a silent composite-id
        # alias (doc X frame 17 colliding with doc X+1 frame 1;
        # Spark's % and DIV follow the dividend's sign, so negative
        # ids would also decompose to the wrong (doc, frame) pair)
        F.when(
            F.assert_true(
                (F.col(frame_col) >= F.lit(0))
                & (F.col(frame_col) < F.lit(frame_base))
                & (F.col(id_col) >= F.lit(0)),
                f"need 0 <= frame_idx < frame_base={frame_base} "
                f"and {id_col} >= 0",
            ).isNull(),
            (F.col(id_col) * frame_base + F.col(frame_col)).cast("long"),
        ).alias("fid"),
        F.col(hash_col),
    )
    pairs = hamming_near_dup_pairs(
        comp,
        id_col="fid",
        hash_col=hash_col,
        bands=bands,
        max_hamming=max_hamming,
        max_ids_per_bucket=max_ids_per_bucket,
    )
    fb = frame_base
    return (
        pairs.select(
            F.expr(f"id_a DIV {fb}").alias("doc_a"),
            F.expr(f"id_b DIV {fb}").alias("doc_b"),
            F.expr(f"id_a % {fb}").alias("fa"),
            F.expr(f"id_b % {fb}").alias("fb"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.countDistinct(F.struct("fa", "fb"))
            .cast("int")
            .alias("n_matching_frames")
        )
        .filter(F.col("n_matching_frames") >= min_matching_frames)
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            "n_matching_frames",
        )
    )


def still_from_video_pairs(
    frames: DataFrame,
    stills: DataFrame,
    video_id_col: str = "doc_id",
    frame_col: str = "frame_idx",
    still_id_col: str = "doc_id",
    hash_col: str = "dhash",
    frame_base: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
) -> DataFrame:
    """CROSS-MODAL near-dup (r11, VERDICT r10 item 3): find still
    images that are frames EXTRACTED from videos — thumbnails,
    screenshots, posters lifted from video content, the curation case
    neither the image-only nor the video-only pass can see. Both
    modalities already emit 64-bit dHashes through the same bit
    arithmetic (`multimodal.image_dhash` / `video_frame_dhash`), so
    the match is ONE banded Hamming join over their union — never
    image×frame all-pairs, and no new shuffle shape.

    Composite-id scheme (the `video_near_dup_pairs` encoding plus a
    parity tag, since both modalities share one id space in the
    join): video frames ride as ``(doc·frame_base + frame)·2``
    (even), stills as ``still_id·2 + 1`` (odd). Same loud
    `assert_true` range guard as the video path — out-of-range frame
    indices or negative ids would silently alias across the parity
    or doc boundaries. After the banded join, only mixed-parity pairs
    survive (video×video belongs to `video_near_dup_pairs`,
    still×still to `hamming_near_dup_pairs`), and the composite ids
    decompose back to ``(video_id, frame_idx, still_id, hamming)``.

    Scale shape: (total sampled frames + stills) rows through ONE
    (band_idx, band_val) shuffle with the ≤``max_ids_per_bucket``
    gate — linear in corpus, identical to the single-modality cost."""
    fb = frame_base
    vcomp = frames.select(
        F.when(
            F.assert_true(
                (F.col(frame_col) >= F.lit(0))
                & (F.col(frame_col) < F.lit(fb))
                & (F.col(video_id_col) >= F.lit(0)),
                f"need 0 <= {frame_col} < frame_base={fb} and "
                f"{video_id_col} >= 0",
            ).isNull(),
            ((F.col(video_id_col) * fb + F.col(frame_col)) * 2).cast("long"),
        ).alias("fid"),
        F.col(hash_col),
    )
    scomp = stills.select(
        F.when(
            F.assert_true(
                F.col(still_id_col) >= F.lit(0),
                f"need {still_id_col} >= 0",
            ).isNull(),
            (F.col(still_id_col) * 2 + 1).cast("long"),
        ).alias("fid"),
        F.col(hash_col),
    )
    pairs = hamming_near_dup_pairs(
        vcomp.unionByName(scomp),
        id_col="fid",
        hash_col=hash_col,
        bands=bands,
        max_hamming=max_hamming,
        max_ids_per_bucket=max_ids_per_bucket,
    )
    mixed = pairs.filter((F.col("id_a") % 2) != (F.col("id_b") % 2))
    vfid = F.when((F.col("id_a") % 2) == 0, F.col("id_a")).otherwise(
        F.col("id_b")
    )
    sfid = F.when((F.col("id_a") % 2) == 1, F.col("id_a")).otherwise(
        F.col("id_b")
    )
    return mixed.select(
        vfid.alias("__vfid"),
        sfid.alias("__sfid"),
        "hamming",
    ).select(
        F.expr("__vfid DIV 2").alias("__vf"),
        F.col("__sfid"),
        "hamming",
    ).select(
        F.expr(f"__vf DIV {fb}").alias("video_id"),
        F.expr(f"__vf % {fb}").cast("int").alias(frame_col),
        F.expr("(__sfid - 1) DIV 2").alias("still_id"),
        "hamming",
    )


def _check_bands(bits: int, bands: int, max_hamming: int | None = None) -> None:
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    if max_hamming is not None and max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: the pigeonhole "
            "guarantee needs more bands than tolerated bit flips"
        )


def _band_keys(hash_col: str, bits: int, bands: int) -> Column:
    """One row per band of a ``bits``-bit fingerprint: the composite
    int64 key ``band_idx << band_bits | band_val`` (band_val <
    2^band_bits, so the key is a single uniform join column)."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    return F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}),"
            f" b -> (cast(b as bigint) << {band_bits})"
            f" | (shiftright({hash_col}, b * {band_bits}) & {mask}))"
        )
    ).alias("bk")


def _cool_bands(gate_rows: DataFrame, max_ids_per_bucket: int) -> DataFrame:
    """Band keys holding at most ``max_ids_per_bucket`` distinct
    identities (``fid``) — the hot-bucket gate."""
    return (
        gate_rows.groupBy("bk")
        .agg(F.countDistinct("fid").alias("__nd"))
        .filter(F.col("__nd") <= max_ids_per_bucket)
        .select("bk")
    )


def stills_against_video_store(
    stills: DataFrame,
    store_name: str,
    still_id_col: str = "doc_id",
    hash_col: str = "dhash",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
) -> DataFrame:
    """CROSS-MODAL STORE LOOKUP (r11): check a still-image corpus
    against the PERSISTED video-frame fingerprint store
    (`incremental_video_dedup_bucketed`'s ``{store}__vfpb``) — the
    curation-loop form of `still_from_video_pairs`: the video corpus
    was already deduped batch-by-batch into the store, so a still
    matches only ACCEPTED video content (a thumbnail of an already-
    dropped re-encode doesn't re-flag), and the lookup pays nothing
    for video history size beyond the probed buckets.

    Shape: stills band exactly like stored frames (same composite
    ``bk`` encoding), the store is read via broadcast semi on the
    stills' bk set (bucketed on ``bk`` ⇒ ZERO store-side Exchange,
    only matching buckets scanned), the hot-bucket gate counts
    distinct identities over store-hits ∪ stills per bucket, and the
    Hamming verify emits ``(still_id, video_id, frame_idx,
    hamming)`` distinct. Lookup cost ∝ stills × bands + probed
    store rows — independent of total store size."""
    _check_bands(bits, bands)
    store = BucketedStore(stills.sparkSession, store_name, {"vfpb": "bk"})
    sb = swap_cache(
        "dedup.stills_vs_store_bands",
        stills.select(
            F.col(still_id_col).alias("__sid"),
            F.col(hash_col).alias("__sh"),
            _band_keys(hash_col, bits, bands),
        ),
    )
    bks = sb.select("bk").distinct()
    hits = swap_cache(
        "dedup.stills_vs_store_hits",
        store.table("vfpb").join(F.broadcast(bks), "bk"),
    )
    gate_rows = sb.select(
        "bk", F.concat(F.lit("s:"), F.col("__sid")).alias("fid")
    ).unionByName(
        hits.select(
            "bk",
            F.concat_ws(":", F.col("doc_id"), F.col("frame_idx")).alias(
                "fid"
            ),
        )
    )
    ok_bk = _cool_bands(gate_rows, max_ids_per_bucket)
    return (
        sb.join(ok_bk, "bk")
        .join(hits, "bk")
        .withColumn(
            "hamming",
            F.expr("bit_count(__sh ^ h)").cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("__sid").alias("still_id"),
            F.col("doc_id").alias("video_id"),
            F.col("frame_idx"),
            "hamming",
        )
        .distinct()
    )


def incremental_video_dedup_bucketed(
    frames: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    frame_col: str = "frame_idx",
    hash_col: str = "dhash",
    min_matching_frames: int = 2,
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
    buckets: int = 32,
    path: str | None = None,
    on_survivors=None,
    fresh: bool = False,
) -> DataFrame:
    """VIDEO dedup of a NEW batch against ALL accepted history — the
    SIXTH member of the incremental-store family, composing the
    frame-SET near-dup rule (`video_near_dup_pairs`) with the banded
    fingerprint store shape (`incremental_fingerprint_dedup_bucketed`):
    a batch video drops iff ≥ ``min_matching_frames`` DISTINCT frame
    pairs match (Hamming ≤ ``max_hamming``) against a LOWER-id batch
    video or against ANY stored survivor — re-containered or
    single-frame-edited re-crawls of accepted videos drop without
    re-hashing or re-reading any earlier batch.

    Store ``{store_name}__vfpb`` holds ``(bk, id_col, frame_col, h)``
    — one row per (band, accepted frame) — BUCKETED and sorted on the
    composite band key ``bk``, so the per-batch candidate join reads
    the store with ZERO store-side Exchange (broadcast semi on the
    batch's bk set prunes it); fingerprints ride in the rows so the
    exact verify needs no join back. Hot-bucket gate = ONE
    union-distinct COUNT(DISTINCT frame identity) over store ∪ batch
    scoped to the batch's buckets; upper bound only (the replay
    self-match argument of the fingerprint store applies per frame).

    Input is the FRAME fingerprint table (`video_frame_dhash` output),
    not payloads — hashing stays the caller's narrow pass. Crash
    contract, ``on_survivors`` and ``fresh``: `sources/store.py`
    (``on_survivors`` receives the surviving frame rows; a replayed
    batch re-matches the store per-frame and re-drops). Returns the
    surviving frame rows (all frames of surviving docs)."""
    _check_bands(bits, bands, max_hamming)
    store = BucketedStore(
        frames.sparkSession, store_name, {"vfpb": "bk"}, buckets=buckets,
        path=path, fresh=fresh,
    )
    banded = swap_cache(
        "dedup.incremental_vfp_bands",
        frames.select(
            F.col(id_col),
            F.col(frame_col),
            F.col(hash_col).alias("h"),
            _band_keys(hash_col, bits, bands),
        ),
    )
    batch_bks = banded.select("bk").distinct()
    fident = F.concat_ws(":", F.col(id_col), F.col(frame_col))
    gate_rows = banded.select("bk", fident.alias("fid"))
    store_hits = None
    if store.exists:
        store_hits = swap_cache(
            "dedup.incremental_vfp_store_hits",
            store.table("vfpb").join(F.broadcast(batch_bks), "bk"),
        )
        gate_rows = gate_rows.unionByName(
            store_hits.select("bk", fident.alias("fid"))
        )
    ok_bk = _cool_bands(gate_rows, max_ids_per_bucket)
    a = banded.select(
        "bk", F.col(id_col).alias("doc_a"), F.col(frame_col).alias("fa"),
        F.col("h").alias("h_a"),
    )
    b = banded.select(
        "bk", F.col(id_col).alias("doc_b"), F.col(frame_col).alias("fb"),
        F.col("h").alias("h_b"),
    )
    ham = f"cast(bit_count(h_a ^ h_b) as int) <= {max_hamming}"

    def rollup(matched: DataFrame) -> DataFrame:
        # distinct matched frame pairs per (doc_a, doc_b), then the
        # >= min_matching_frames rule; only doc_b (the higher/batch
        # side) ever drops
        return (
            matched.select("doc_a", "doc_b", "fa", "fb")
            .distinct()
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("__m"))
            .filter(F.col("__m") >= min_matching_frames)
            .select(F.col("doc_b").alias(id_col))
        )

    in_batch = rollup(
        a.join(F.broadcast(ok_bk), "bk")
        .join(b, "bk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr(ham))
    )
    dropped = in_batch
    if store.exists:
        vs_store = rollup(
            store_hits.select(
                "bk", F.col(id_col).alias("doc_a"),
                F.col(frame_col).alias("fa"), F.col("h").alias("h_a"),
            )
            .join(F.broadcast(ok_bk), "bk")
            .join(b, "bk")
            .filter(F.expr(ham))
        )
        dropped = dropped.unionByName(vs_store)
    return store.commit(
        frames, dropped, id_col, on_survivors,
        lambda drops: {
            "vfpb": banded.join(drops, id_col, "left_anti").select(
                "bk", id_col, frame_col, "h"
            )
        },
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity pairs ≥ threshold. With
    ``candidates`` (from LSH) only those pairs are verified — the
    scale path; without, brute-force all pairs (oracle path, small sf
    only)."""
    sh = with_shingle_hashes(df, n, text_col=text_col).select(
        F.col(id_col), F.col("__sh").alias("sh")
    )
    if candidates is not None:
        # both join sides read the shingle frame — persist it so the
        # normalize→shingle→md5 pipeline runs ONCE per doc, not once
        # per side. The cache must outlive this call (the returned
        # plan is lazy), so it cannot be unpersisted here; the
        # session-keyed registry instead releases the PREVIOUS call's
        # cache (ADVICE r3; plans/cachereg.py).
        sh = swap_cache("dedup.jaccard_shingles", sh)
    return _verify(candidates, sh, sh, id_col, threshold).select(
        "id_a", "id_b", "jaccard"
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bits: int = 32,
) -> DataFrame:
    """SimHash over shingle hashes: per bit, sign of Σ±1 votes.
    Fully narrow — the vote vector is folded per row with
    ``aggregate``/``zip_with`` (no explode, no shuffle; was 12 s on
    the sf0.1 bench as an explode+groupBy, ~1 s this way)."""
    votes = (
        f"aggregate(__sh, array_repeat(0, {bits}), (acc, h) -> "
        f"zip_with(acc, sequence(0, {bits - 1}), "
        f"(a, b) -> a + (CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)))"
    )
    assemble = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        f"(v, b) -> CASE WHEN v >= 0 THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END), "
        f"cast(0 as bigint), (acc, x) -> acc + x)"
    )
    return with_shingle_hashes(df, n, text_col=text_col).select(
        F.col(id_col), F.expr(assemble).alias("simhash")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    local_finish_rows: int | None = None,
) -> DataFrame:
    """Duplicate-cluster connected components, two-regime
    (VERDICT r2 item 5). Returns ``(id_col, component)`` with
    component = the smallest node id in the cluster (the usual
    survivor representative) — hash-checked against the
    recursive-CTE SQL oracle.

    Regime 1 — LOCAL FINISH: near-dup edge sets are usually tiny
    relative to the corpus (LSH-verified pairs). When the exact edge
    count (already known from the convergence signature) is at or
    under ``local_finish_rows`` (default: the
    ``plans.guards.max_driver_rows`` ceiling), the edges are collected and
    resolved by driver-side union-find — one job instead of
    per-round shuffle cascades. This is the same bounded-frontier
    rule every other guarded collect in the engine follows.

    Regime 2 — LARGE-STAR / SMALL-STAR alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14 — public
    algorithm) for edge sets above the ceiling: each large-star
    hangs a node's larger neighbors off its minimum neighbor, each
    small-star re-roots the smaller neighbors; the edge set
    contracts to per-component stars centered on the minimum id in
    O(log n) rounds, vs diameter rounds for plain min-label
    propagation (round count asserted in
    tests/test_dedup_similarity.py). As soon as a round contracts
    the edge set below the ceiling, the local finish takes over.

    Scale shape: each star round is two grouped shuffles over the
    shrinking edge set. A round's edge frame references its parent
    TWICE (join + union), so the logical plan doubles per round —
    localCheckpoint (eager) truncates lineage each round, which
    persist alone does not (the unbounded explain string OOMed the
    driver before any task ran). Convergence: per-round signature
    (edge count, exact decimal sums of endpoints) — stars are the
    unique fixpoint of the alternation.
    """
    from ..plans.guards import max_driver_rows

    threshold = (
        local_finish_rows if local_finish_rows is not None else max_driver_rows()
    )
    Eraw = edges.select(
        F.greatest("id_a", "id_b").alias("src"),
        F.least("id_a", "id_b").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))

    def _local_finish(rows) -> DataFrame:
        # union-find with min-id roots (duplicate edges are harmless,
        # so the bounded collect skips the distinct shuffle)
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in rows:
            a, b = find(row["src"]), find(row["dst"])
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        pairs = [(int(x), int(find(x))) for x in parent]
        spark = nodes.sparkSession
        labels = local_frame(spark, pairs or [], "id long, comp long")
        return F.broadcast(labels)

    # ONE probe job for the common case: near-dup edge sets are tiny
    # relative to the corpus, so try the bounded collect first —
    # limit(threshold+1) never scans past the ceiling
    head = Eraw.limit(threshold + 1).collect()
    if len(head) <= threshold:
        connected_components.last_rounds = 0
        connected_components.last_local_finish = True
        labels = _local_finish(head)
        return (
            nodes.select(F.col(id_col).alias("id"))
            .join(labels, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce("comp", F.col("id")).alias("component"),
            )
        )

    from ..plans.guards import release_local_checkpoint

    E = Eraw.distinct().localCheckpoint(eager=True)

    def _sig(frame: DataFrame):
        r = frame.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("src").cast("decimal(38,0)")).alias("ss"),
            F.sum(F.col("dst").cast("decimal(38,0)")).alias("sd"),
        ).collect()[0]
        return (r["c"] or 0, r["ss"], r["sd"])

    sig = _sig(E)
    prev = sig
    rounds = 0
    at_fixpoint = False
    while sig[0] > threshold and rounds < max_iter:
        rounds += 1
        sym = E.union(
            E.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star: for each u, m = min(Γ(u) ∪ {u}); emit (v, m)
        # for the STRICTLY LARGER neighbors v > u
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        e1 = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: edges now all point src > dst; for each u,
        # m = min of its smaller neighbors; re-root them and u on m
        mins2 = e1.groupBy("src").agg(F.min("dst").alias("m"))
        e2 = (
            e1.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins2.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _sig(e2)
        # e2's blocks are materialized (eager) and no longer read the
        # previous round's — free those instead of accumulating one
        # frame per round for the session lifetime (ADVICE r3)
        release_local_checkpoint(E)
        E = e2
        if sig == prev:
            at_fixpoint = True  # star fixpoint: edges ARE min-id stars
            break
        prev = sig
    connected_components.last_rounds = rounds  # introspection for tests
    connected_components.last_local_finish = sig[0] <= threshold
    if sig[0] <= threshold:
        # a star round contracted the frontier under the ceiling
        labels = _local_finish(E.collect())
        release_local_checkpoint(E)
    elif at_fixpoint:
        # converged stars above the ceiling: every edge points src →
        # component-minimum, so the per-src min IS the final label.
        # (E stays checkpointed: the labels frame reads it lazily when
        # the caller executes the returned plan.)
        labels = E.groupBy("src").agg(F.min("dst").alias("comp")).withColumnRenamed(
            "src", "id"
        )
    else:
        # max_iter exhausted before the fixpoint/ceiling: mid-flight
        # star edges can still hold multi-hop chains, so labeling now
        # would silently SPLIT clusters (ADVICE r3). Star alternation
        # converges in O(log n) rounds — hitting 25 means something is
        # structurally wrong; fail loudly rather than mislabel.
        release_local_checkpoint(E)
        raise RuntimeError(
            f"connected_components did not converge within max_iter="
            f"{max_iter} star rounds (edge signature still moving, "
            f"{sig[0]:,} edges above the local-finish ceiling of "
            f"{threshold:,}). Labeling mid-flight would split clusters; "
            f"raise max_iter (rounds scale as O(log n)) or the "
            f"SPARK_GRAFT_MAX_DRIVER_ROWS local-finish ceiling."
        )
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("comp", F.col("id")).alias("component"),
        )
    )


def keep_latest(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Upsert-style compaction: one surviving row per key group — the
    one with the greatest ``order_col`` (ties broken by greatest
    ``tiebreak`` so the survivor is deterministic). This is the
    keep-last half of CDC/append-log compaction: one hash shuffle on
    the keys, per-group rank, no global sort."""
    order = [F.col(order_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fuzzy_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 20,
    prefix: int = 80,
    block_tokens: int = 2,
    len_band: int = 40,
) -> DataFrame:
    """Edit-distance near-duplicates with blocking: candidates are
    pairs agreeing on the first ``block_tokens`` tokens AND a
    ``len_band``-wide length band; only candidates pay the
    O(prefix²) Levenshtein verify (JVM built-in, prefix-truncated).
    The all-pairs N² comparison never happens — the blocking join
    shuffles block keys only, the same candidate+verify shape as the
    MinHash pipeline. Recall is bounded by the blocking choice
    (prefix edits can split a true pair across blocks — that is the
    standard fuzzy-blocking tradeoff; widen with multiple block
    passes if needed). Returns (id_a, id_b, dist), id_a < id_b."""
    d = df.select(
        F.col(id_col),
        F.col(text_col),
        F.array_join(
            F.slice(F.split(F.col(text_col), " "), 1, block_tokens), " "
        ).alias("__blk"),
        F.floor(F.length(text_col) / len_band).cast("int").alias("__lb"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(
        F.substring(F.col(f"a.{text_col}"), 1, prefix),
        F.substring(F.col(f"b.{text_col}"), 1, prefix),
    )
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__lb") == F.col("b.__lb"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            dist.cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def incremental_near_dup(
    batch: DataFrame,
    store: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    star_over: int | None = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against an already-accepted corpus — the
    production pattern at 100 TB: the existing corpus was curated
    once and its signature/shingle store persisted; each new crawl
    batch is verified against the STORE (band join) and against
    itself (bucket expansion), never re-shingling the old corpus.

    ``store`` is the frame a previous call returned as its second
    element: ``(id_col, sig array<bigint>, sh array<bigint>)`` —
    or ``None`` for the first batch. Returns
    ``(survivors, new_store)``:

    - ``survivors``: batch rows that near-dup neither a store doc
      nor a LOWER-id batch survivor candidate (the same greedy
      drop-higher-id pair rule as ``curation.curate_corpus`` —
      chains are not transitively closed, by design).
    - ``new_store``: ``store`` ∪ the survivors' signature rows; feed
      it to the next call.

    EQUIVALENCE: when every batch id exceeds every store id (the
    normal append-only case) and the store is itself pair-free at
    this threshold, incremental processing produces exactly the
    survivors a full drop-higher-id run over the union would —
    pinned in tests/test_dedup_similarity.py.

    Scale shape: the batch side is shingled/signed once (narrow);
    candidates come from one band-key join against the store plus
    one in-batch bucket expansion (both star-capped via
    ``star_over``); Jaccard verification joins shingle arrays by
    candidate id only. The store is append-only — no old-corpus
    recompute, no doc×doc anywhere.
    """
    band = _band_expr(num_hashes, bands, rows_per_band)
    # one live cache per (session, slot) via the registry — the
    # PREVIOUS batch's cache is deliberately ALSO evicted when this
    # call's store derives from it: lineage recomputes the store
    # correctly, and a two-deep cache window was MEASURED 3× slower
    # on the two-phase dedup_incremental query (9.5 s vs 3.3 s at
    # sf0.1 — cached InMemoryRelations block AQE/pushdown on the
    # store side; recompute wins).
    sigged = swap_cache(
        "dedup.incremental_sigs",
        with_shingle_hashes(batch, n, text_col=text_col).select(
            F.col(id_col),
            F.expr(_sig_expr(num_hashes)).alias("sig"),
            F.col("__sh").alias("sh"),
        ),
    )
    new_bands = _banded(sigged, id_col, band)
    # in-batch candidates: bucket expansion with the hot-bucket cap
    cand = _bucket_pairs(new_bands, id_col, star_over)
    sh_all = sigged.select(id_col, "sh")
    if store is not None:
        vs_store = (
            _banded(store.select(id_col, "sig"), id_col, band)
            .select(
                F.col(id_col).alias("id_a"),
                "band_idx",
                "band_hash",
            )
            .join(
                new_bands.select(
                    F.col(id_col).alias("id_b"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            )
            .select("id_a", "id_b")
        )
        cand = cand.unionByName(vs_store)
        sh_all = sh_all.unionByName(store.select(id_col, "sh"))
    verified = _verify(cand.distinct(), sh_all, sigged, id_col, threshold)
    drops = verified.select(F.col("id_b").alias(id_col)).distinct()
    survivors = batch.join(drops, id_col, "left_anti")
    surv_rows = sigged.join(drops, id_col, "left_anti")
    new_store = (
        surv_rows if store is None else store.unionByName(surv_rows)
    )
    return survivors, new_store


def incremental_near_dup_bucketed(
    batch: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    star_over: int | None = 1024,
    buckets: int = 32,
    path: str | None = None,
    on_survivors=None,
) -> DataFrame:
    """``incremental_near_dup`` against a PERSISTED, BUCKETED
    signature store (VERDICT r4 next-round #3): the append-only store
    lives as two catalog tables written once per batch —

    - ``{store_name}__bands``: ``(bk, id_col)``, bucketed on ``bk``
      (the band key ``band_idx:band_hash``), so the per-batch
      candidate band join reads the store already partitioned on the
      join key: ZERO Exchange on the store side, only the (small) new
      batch shuffles (asserted in tests/test_bucketing.py).
    - ``{store_name}__sigs``: ``(id_col, sig, sh)``, bucketed on
      ``id_col``, so the Jaccard-verify shingle lookup for store-side
      candidates is likewise exchange-free on the store scan.

    At 100 TB this is the difference between re-shuffling the whole
    accepted corpus's band rows on EVERY crawl batch and shuffling
    only the batch: the store pays its partitioning once, at append
    time, with the same fixed ``buckets`` contract every batch writes.

    Semantics are identical to ``incremental_near_dup`` (same
    candidate rule, same exact-shingle verify, same drop rule;
    equivalence pinned in tests/test_bucketing.py). Returns the batch
    SURVIVORS and appends their band/signature rows to the store
    tables (creating them on first call — ``path`` roots the external
    location, else ``spark.sql.warehouse.dir``). Unlike the
    DataFrame-store variant this call is EAGER: the append is an
    action, so the survivors are computed exactly once and the
    returned frame re-reads nothing from the batch lineage.

    Crash contract and ``on_survivors``: `sources/store.py`. Sigs are
    written BEFORE bands, so orphan sig rows from a crash between the
    two are inert (candidates come from bands) and a replay re-appends
    past them; duplicate sig/band rows only fan out candidate pairs,
    which the verify stage's ``distinct`` collapses.
    """
    bk = _band_expr(num_hashes, bands, rows_per_band, keyed=True)
    store = BucketedStore(
        batch.sparkSession, store_name, {"sigs": id_col, "bands": "bk"},
        buckets=buckets, path=path,
    )

    sigged = swap_cache(
        "dedup.incremental_bucketed_sigs",
        with_shingle_hashes(batch, n, text_col=text_col).select(
            F.col(id_col),
            F.expr(_sig_expr(num_hashes)).alias("sig"),
            F.col("__sh").alias("sh"),
        ),
    )
    new_bands = sigged.select(
        F.col(id_col), F.explode(F.expr(bk)).alias("bk")
    )
    in_batch = _bucket_pairs(new_bands, id_col, star_over)
    dropped = _verify(
        in_batch.distinct(), sigged, sigged, id_col, threshold
    ).select("id_b")
    if store.exists:
        # store side of BOTH joins is bucketed on the join key: the
        # band join clusters on bk, the shingle lookup on id — no
        # store-side Exchange (scan_ancestry-asserted in tests)
        vs_store = (
            store.table("bands")
            .select(F.col(id_col).alias("id_a"), "bk")
            .join(new_bands.select(F.col(id_col).alias("id_b"), "bk"), "bk")
            .select("id_a", "id_b")
            .distinct()
        )
        dropped = dropped.unionByName(
            _verify(
                vs_store, store.table("sigs"), sigged, id_col, threshold
            ).select("id_b")
        )

    def rows(drops: DataFrame) -> dict[str, DataFrame]:
        surv_rows = sigged.join(drops, id_col, "left_anti")
        return {
            "sigs": surv_rows.select(id_col, "sig", "sh"),
            "bands": surv_rows.select(
                id_col, F.explode(F.expr(bk)).alias("bk")
            ).select("bk", id_col),
        }

    return store.commit(
        batch, dropped.select(F.col("id_b").alias(id_col)), id_col,
        on_survivors, rows,
    )


def incremental_exact_dedup_bucketed(
    batch: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 32,
    path: str | None = None,
    on_survivors=None,
) -> DataFrame:
    """Exact dedup of a NEW batch against ALL accepted history via a
    persisted content-key store — the lightweight sibling of
    `incremental_near_dup_bucketed` and the most common production
    dedup at 100 TB (URL / normalized-content keys): the accepted
    corpus's keys live in ONE catalog table ``{store_name}__keys``
    ``(ck, id_col)`` bucketed on ``ck``, so the per-batch anti-join
    reads the store already partitioned on the join key — zero
    store-side Exchange, only the (small) batch shuffles. The batch
    shuffles on ``ck`` ONCE: the in-batch min-id window and the
    store anti-join share the same key, so the exchange is reused.

    Survivor rule: the min-``id_col`` row per content key within the
    batch, excluding keys already in the store — identical to running
    `exact_dedup` over store ∪ batch when batch ids exceed store ids
    (the append-only case; pinned in tests).

    Crash contract and ``on_survivors``: `sources/store.py`.
    """
    store = BucketedStore(
        batch.sparkSession, store_name, {"keys": "ck"}, buckets=buckets,
        path=path,
    )

    keyed = swap_cache(
        "dedup.incremental_exact_keys",
        batch.select(F.col(id_col), content_key(text_col).alias("ck")),
    )
    w = Window.partitionBy("ck")
    dup_in_batch = (
        keyed.withColumn("__min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) != F.col("__min_id"))
        .select(id_col)
    )
    dropped = dup_in_batch
    if store.exists:
        dropped = dropped.unionByName(
            keyed.join(store.table("keys").select("ck"), "ck").select(id_col)
        )
    return store.commit(
        batch, dropped, id_col, on_survivors,
        lambda drops: {
            "keys": keyed.join(drops, id_col, "left_anti").select("ck", id_col)
        },
    )


def incremental_fingerprint_dedup_bucketed(
    batch: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    hash_col: str = "fp",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    max_ids_per_bucket: int = 64,
    buckets: int = 32,
    path: str | None = None,
    on_survivors=None,
    fresh: bool = False,
) -> DataFrame:
    """Perceptual-fingerprint dedup of a NEW batch against ALL
    accepted history via a persisted banded-fingerprint store — the
    FIFTH member of the incremental-store family (exact keys /
    MinHash bands / semantic cells / positional shingles / THIS),
    and the incremental form the image/audio fingerprint modalities
    need: each crawl batch's 64-bit fingerprints (`image_dhash`,
    `audio_fingerprint`, `simhash`) are checked within
    ``max_hamming`` of the whole accepted corpus without re-hashing
    or re-reading any earlier batch.

    The store ``{store_name}__fpb`` holds ``(bk, id_col, h)`` — one
    row per (band, accepted id), with ``bk = band_idx << band_bits |
    band_val`` (band_val < 2^band_bits, so the composite is a single
    uniform int64 join key) — BUCKETED and sorted on ``bk``, so the
    per-batch candidate join reads the store already partitioned on
    the join key: ZERO store-side Exchange, only the (small) batch
    shuffles. Fingerprints ride in the store rows, so the exact
    ``bit_count(xor)`` verify needs no join back against history.

    SURVIVOR semantics (the `incremental_near_dup_bucketed` rule,
    NOT the substring store's seen-set): a batch doc drops iff it is
    within ``max_hamming`` of a LOWER-id batch doc (greedy by id,
    pairs formed among all batch members) or of ANY stored survivor;
    only survivors append — near-dup clusters keep exactly their
    first-seen representative.

    Hot-bucket gate (the ADVICE-r8 union-distinct pattern): per band
    bucket, ONE COUNT(DISTINCT id) over store ∪ batch rows SCOPED to
    the batch's buckets (a broadcast semi-join keeps the store scan
    bucket-pruned and exchange-free; a replayed batch double-counts
    nothing). Buckets over ``max_ids_per_bucket`` are skipped in BOTH
    match arms — byte-identical mega-clusters are exact dedup's job,
    and the gate is what bounds in-bucket pair expansion as history
    grows.

    Crash contract, ``on_survivors`` and ``fresh``: `sources/store.py`
    (a replayed batch re-matches the store and re-drops)."""
    _check_bands(bits, bands, max_hamming)
    store = BucketedStore(
        batch.sparkSession, store_name, {"fpb": "bk"}, buckets=buckets,
        path=path, fresh=fresh,
    )
    banded = swap_cache(
        "dedup.incremental_fp_bands",
        batch.select(
            F.col(id_col),
            F.col(hash_col).alias("h"),
            _band_keys(hash_col, bits, bands),
        ),
    )
    batch_bks = banded.select("bk").distinct()
    gate_rows = banded.select("bk", F.col(id_col).alias("fid"))
    store_hits = None
    if store.exists:
        # ONE bucket-pruned store scan (broadcast semi on the batch's
        # bk set — no store-side Exchange) feeds both the gate count
        # and the match arm
        store_hits = swap_cache(
            "dedup.incremental_fp_store_hits",
            store.table("fpb").join(F.broadcast(batch_bks), "bk"),
        )
        gate_rows = gate_rows.unionByName(
            store_hits.select("bk", F.col(id_col).alias("fid"))
        )
    # upper bound ONLY: a >=2 floor would be a no-op for pair
    # formation (singleton buckets join to nothing) but it BREAKS the
    # replay contract — a replayed batch's doc shares its bucket with
    # its own stored row under the SAME id, so the union-distinct
    # count is 1 and the floor would gate out exactly the self-match
    # that makes replay re-drop (regression-tested)
    ok_bk = _cool_bands(gate_rows, max_ids_per_bucket)
    a = banded.select(
        F.col("bk"), F.col(id_col).alias("id_a"), F.col("h").alias("h_a")
    )
    b = banded.select(
        F.col("bk"), F.col(id_col).alias("id_b"), F.col("h").alias("h_b")
    )
    ham = f"cast(bit_count(h_a ^ h_b) as int) <= {max_hamming}"
    in_batch = (
        a.join(F.broadcast(ok_bk), "bk")
        .join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.expr(ham))
        .select("id_b")
    )
    dropped = in_batch
    if store.exists:
        vs_store = (
            store_hits.select(
                F.col("bk"), F.col(id_col).alias("id_a"),
                F.col("h").alias("h_a"),
            )
            .join(F.broadcast(ok_bk), "bk")
            .join(b, "bk")
            .filter(F.expr(ham))
            .select("id_b")
        )
        dropped = dropped.unionByName(vs_store)
    return store.commit(
        batch, dropped.select(F.col("id_b").alias(id_col)), id_col,
        on_survivors,
        lambda drops: {
            "fpb": banded.join(drops, id_col, "left_anti").select(
                "bk", id_col, "h"
            )
        },
    )

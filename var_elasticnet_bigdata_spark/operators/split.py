"""Deterministic train/validation/test assignment by content hash.

Random splits (``randomSplit``) are neither stable across runs and
cluster layouts nor reproducible outside Spark. A 100 TB pipeline
wants the split to be a PURE FUNCTION of the row id: re-runs,
backfills, and other engines (the DuckDB oracle) must agree row for
row, and late-arriving rows land in their split without reshuffling
history.

The assignment key is the first two hex digits of ``md5(id)`` — 256
uniform buckets as a STRING, compared lexically against precomputed
hex thresholds. Using the hex string (not a numeric conversion)
keeps the rule portable to any engine with md5 and substring, which
is exactly what the hash gate exercises. Narrow, shuffle-free,
codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.cachereg import swap_cache
from ..sources.store import BucketedStore
from ..sources.tables import local_frame


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """(name, upper-bound hex bucket) pairs, cumulative over the 256
    buckets; the last split absorbs the rounding remainder. Bounds
    are quantized to 1/256 — a non-final bound that quantizes to 0 or
    256 buckets would silently empty a split (and 256 has no 2-char
    hex form, which would invert the lexical comparison), so both
    raise instead."""
    if any(f <= 0 for f in fractions.values()):
        raise ValueError(f"fractions must be positive: {fractions}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    out: list[tuple[str, str]] = []
    prev = 0
    names = list(fractions)
    acc = 0.0
    for i, name in enumerate(names):
        acc += fractions[name]
        bound = int(round(acc * 256)) if i < len(names) - 1 else 256
        if i < len(names) - 1 and not prev < bound < 256:
            raise ValueError(
                f"split {name!r} bound {bound}/256 leaves no buckets for "
                f"itself or a later split at 1/256 granularity: {fractions}"
            )
        prev = bound
        out.append((name, format(min(bound, 256), "02x")))
    return out


def bucket_expr(id_col: str) -> Column:
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Attach a deterministic split label: bucket =
    ``substr(md5(id), 1, 2)``, thresholded by cumulative fraction.
    Same id → same split, on any engine, forever."""
    fracs = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    thresholds = split_thresholds(fracs)
    b = bucket_expr(id_col)
    expr: Column | None = None
    for name, hi in reversed(thresholds):
        expr = F.lit(name) if expr is None else F.when(b < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def duck_split_sql(id_col: str, fractions: dict[str, float] | None = None) -> str:
    """The identical rule as DuckDB SQL (for oracles / other engines)."""
    fracs = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    thresholds = split_thresholds(fracs)
    b = f"substr(md5(CAST({id_col} AS VARCHAR)), 1, 2)"
    sql = f"'{thresholds[-1][0]}'"
    for name, hi in reversed(thresholds[:-1]):
        sql = f"CASE WHEN {b} < '{hi}' THEN '{name}' ELSE {sql} END"
    return sql


def split_contamination(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    train_split: str = "train",
    eval_split: str = "test",
    fractions: dict[str, float] | None = None,
    split_col: str | None = None,
) -> DataFrame:
    """Train→eval contamination check: for every document in the
    ``eval_split``, the fraction of its word ``n``-grams that also
    occur anywhere in the ``train_split`` — the standard
    decontamination scan run before an eval set is trusted.

    Pass ``split_col`` to reuse an existing label column; otherwise
    the deterministic ``hash_split`` assignment is applied.

    Scale: shingles are computed narrowly per row (staged md5
    pipeline from ``operators.dedup``); the train side is reduced to
    a DISTINCT shingle-hash set (combinable aggregate) and the only
    shuffle is on the uniform shingle hash — never a doc×doc
    comparison. At 100 TB this is one hash-keyed left join between
    an exploded eval side and the train shingle set.

    Returns ``(id_col, n_shingles, n_hit, hit_ratio)`` per eval doc.
    """
    from .dedup import exploded_shingle_hashes

    if split_col is None:
        df = hash_split(df, id_col, fractions)
        split_col = "split"
    # exploded_shingle_hashes (not explode-of-__sh): a lambda-free
    # explode child makes InferFiltersFromGenerate re-inline the whole
    # shingle pipeline into a scan-level filter — 10× (see dedup.py)
    lab = df.select(
        F.col(id_col), F.col(split_col).alias("__split"), F.col(text_col)
    )
    # shingle arrays are array_distinct per doc, so explode yields
    # one row per (doc, distinct shingle)
    # persist: BOTH the train-set branch and the eval branch consume
    # this frame — uncached, the normalize/shingle/md5 corpus pass
    # runs twice (same shared-lineage pattern as unigram_logprob)
    sh = swap_cache(
        "split.contamination_shingles",
        exploded_shingle_hashes(
            lab, n=n, text_col=text_col, out_col="s"
        ).select(id_col, "__split", "s"),
    )
    train_set = (
        sh.filter(F.col("__split") == train_split)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ev = sh.filter(F.col("__split") == eval_split).select(F.col(id_col), "s")
    return (
        ev.join(train_set, "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
            F.avg(F.coalesce(F.col("hit"), F.lit(0)).cast("double")).alias("hit_ratio"),
        )
    )


def contamination_store_write(
    train_df: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the benchmark/train corpus's DISTINCT shingle-hash set
    as a bucketed catalog table (`{store_name}__shingles`, bucketed
    and sorted on the hash) — the write-once half of production
    decontamination: the protected benchmark suite is STATIC, so its
    shingle set should pay its partitioning once, not be re-reduced
    and re-shuffled for every crawl batch that needs checking.
    ``mode='append'`` adds a new benchmark's shingles (duplicates
    across appends are fine — hits are counted via semi-join
    EXISTS semantics, see ``contamination_vs_store``). Crash
    contract: `sources/store.py`."""
    from .dedup import exploded_shingle_hashes

    sh = (
        exploded_shingle_hashes(train_df, n=n, text_col=text_col, out_col="s")
        .select("s")
        .distinct()
    )
    BucketedStore(
        train_df.sparkSession, store_name, {"shingles": "s"},
        buckets=buckets, path=path, fresh=mode != "append",
    ).write({"shingles": sh})


def contamination_vs_store(
    eval_df: DataFrame,
    store_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Contamination scan of a new batch against the PERSISTED
    bucketed shingle store (`contamination_store_write`): per eval
    doc, the fraction of its word n-grams present in the store. The
    store side of the shingle join is read already partitioned on the
    join key — zero Exchange on the store scan; only the (small)
    eval batch shuffles. Same output columns as
    ``split_contamination``: ``(id_col, n_shingles, n_hit,
    hit_ratio)``. Appends may leave duplicate shingles in the store,
    so the hit join aggregates the store to per-key existence first —
    still exchange-free (bucketed group-by)."""
    from .dedup import exploded_shingle_hashes

    spark = eval_df.sparkSession
    store = (
        spark.table(f"{store_name}__shingles")
        .groupBy("s")
        .agg(F.lit(1).alias("hit"))
    )
    ev = exploded_shingle_hashes(
        eval_df, n=n, text_col=text_col, out_col="s"
    ).select(F.col(id_col), "s")
    return (
        ev.join(store, "s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
            F.avg(
                F.coalesce(F.col("hit"), F.lit(0)).cast("double")
            ).alias("hit_ratio"),
        )
    )


def duck_contamination_sql(
    id_col: str = "doc_id",
    n: int = 8,
    train_split: str = "train",
    eval_split: str = "test",
    fractions: dict[str, float] | None = None,
    table: str = "documents",
) -> str:
    """DuckDB twin of ``split_contamination`` (same split rule, same
    shingle hashes, same left-join accounting)."""
    from .dedup import duck_shingle_hashes

    return f"""
        WITH lab AS (
          SELECT {id_col}, {duck_split_sql(id_col, fractions)} AS split,
                 {duck_shingle_hashes(n)} AS sh
          FROM {table}),
        tr AS (SELECT DISTINCT t.s FROM lab, UNNEST(sh) AS t(s)
               WHERE split = '{train_split}'),
        te AS (SELECT {id_col}, t.s FROM lab, UNNEST(sh) AS t(s)
               WHERE split = '{eval_split}')
        SELECT te.{id_col}, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               AVG(CASE WHEN tr.s IS NOT NULL THEN 1.0 ELSE 0.0 END) AS hit_ratio
        FROM te LEFT JOIN tr ON te.s = tr.s
        GROUP BY te.{id_col}
    """


def sample_bucket_expr(id_col: str, salt: str = "sample") -> Column:
    """65536-bucket hex sampling key. SALTED (md5 over
    ``salt || ':' || id``) so sampling decisions are independent of
    the ``hash_split`` assignment, which hashes the bare id — with an
    unsalted key a 10% sample would drain entirely from the 'train'
    bucket range."""
    key = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    return F.substring(F.md5(key), 1, 4)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its salted
    md5 bucket (of 65536) falls below the stratum's rate threshold.
    Unlike ``df.sampleBy`` the decision is a pure function of the id
    — stable across runs, engines, cluster layouts, and backfills,
    and a resampled superset at a higher rate CONTAINS the lower-rate
    sample (thresholds nest). Narrow, shuffle-free, codegen'd.

    Rates quantize to 1/65536; strata absent from ``rates`` use
    ``default_rate``.
    """
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for {k!r} out of [0,1]: {v}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate out of [0,1]: {default_rate}")
    b = sample_bucket_expr(id_col, salt)
    thr: Column = F.lit(_hex4(default_rate))
    for name, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == name, F.lit(_hex4(rate))).otherwise(thr)
    return df.filter(b < thr)


def _hex4(rate: float) -> str:
    # 65536 has no 4-hex-digit form; 'g000' sorts above every md5
    # bucket so rate=1.0 keeps all rows
    n = int(round(rate * 65536))
    return "g000" if n >= 65536 else format(n, "04x")


def duck_stratified_sample_sql(
    strata_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    salt: str = "sample",
) -> str:
    """The identical sampling predicate as DuckDB SQL."""
    b = f"substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)), 1, 4)"
    sql = f"'{_hex4(default_rate)}'"
    for name, rate in sorted(rates.items(), reverse=True):
        sql = (
            f"CASE WHEN {strata_col} = '{name}' THEN '{_hex4(rate)}' "
            f"ELSE {sql} END"
        )
    return f"{b} < {sql}"


def _bucket16_expr(id_col: str, salt: str) -> Column:
    """Numeric 65536-bucket sampling key (salted md5, first 4 hex
    digits as an int) — the numeric form of ``sample_bucket_expr``
    for rates computed IN the plan (a data-derived rate has no
    compile-time hex literal to compare against)."""
    key = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int")


def temperature_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    target_rows: int,
    temperature: float = 0.7,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-flattened source-mixture sampling — the standard
    training-data recipe (multinomial source weights ∝ n_s^τ, τ<1
    up-weights small sources; the GPT-3/PaLM data-mixture rule):
    source s gets an expected ``target_rows · n_s^τ / Σ n^τ`` rows,
    capped at keeping every row (rate ≤ 1).

    Fully distributed AND deterministic: per-source counts are one
    partial-aggregated shuffle, the per-source keep-rate joins back
    as a broadcast, and row inclusion is the salted-md5 bucket rule
    (pure function of the id — stable across runs/engines/backfills,
    and nested: a higher target's sample contains a lower target's).
    Rates quantize to 1/65536 like ``stratified_sample``. No driver
    collect anywhere.

    NULL ``source_col`` rows are EXCLUDED (the rate join is inner;
    NULL never equi-joins) — filter or coalesce a sentinel source
    upstream if unsourced rows should participate.
    """
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    if target_rows < 0:
        raise ValueError(f"target_rows must be >= 0, got {target_rows}")
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    z = counts.agg(
        F.sum(F.pow(F.col("__n").cast("double"), F.lit(float(temperature)))).alias(
            "__z"
        )
    )
    rates = (
        counts.crossJoin(F.broadcast(z))
        .select(
            source_col,
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows))
                * F.pow(F.col("__n").cast("double"), F.lit(float(temperature)))
                / F.col("__z")
                / F.col("__n").cast("double"),
            ).alias("__rate"),
        )
    )
    kept = (
        df.join(F.broadcast(rates), source_col)
        .filter(
            _bucket16_expr(id_col, salt)
            < F.round(F.col("__rate") * 65536).cast("int")
        )
        .drop("__rate")
    )
    return kept


def duck_temperature_sample_sql(
    source_col: str,
    id_col: str,
    target_rows: int,
    temperature: float = 0.7,
    salt: str = "temp",
    table: str = "documents",
) -> str:
    """DuckDB twin of ``temperature_sample`` (identical counts →
    weights → quantized-rate → salted-bucket predicate)."""
    return f"""
        WITH c AS (SELECT {source_col}, COUNT(*) AS n FROM {table} GROUP BY 1),
        z AS (SELECT SUM(pow(CAST(n AS DOUBLE), {temperature!r})) AS z FROM c),
        r AS (SELECT {source_col},
                     LEAST(1.0, {float(target_rows)!r}
                           * pow(CAST(n AS DOUBLE), {temperature!r})
                           / z.z / CAST(n AS DOUBLE)) AS rate
              FROM c, z)
        SELECT t.{id_col}, t.{source_col}
        FROM {table} t JOIN r USING ({source_col})
        WHERE CAST(('0x' || substr(md5('{salt}:' || CAST(t.{id_col} AS VARCHAR)), 1, 4)) AS INT)
              < CAST(round(r.rate * 65536) AS INT)
    """


def mixture_sample(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    size_col: str | None = None,
    salt: str = "mix",
) -> DataFrame:
    """Resample to an EXPLICIT target mixture — the domain-reweighting
    recipe when the mixture comes from a spec (DoReMi-style weights, a
    product requirement) rather than a temperature rule
    (``temperature_sample``): given target weights ``w_s`` over
    sources, emit the LARGEST corpus whose composition matches ``w``,
    i.e. total ``T = min_s size_s / w_s`` and per-source keep-rate
    ``w_s · T / size_s`` (rate 1 for the binding source; no source is
    oversampled — this engine does not duplicate rows).

    ``size_col`` weighs sources by its sum (e.g. token counts — the
    budget unit that matters for training mixtures) instead of row
    counts; rows of a source then keep/drop together at the source's
    rate, so the EXPECTED output composition matches ``w`` in
    ``size_col`` units.

    Deterministic and fully distributed, like every sampler here: the
    per-source sizes are one partial-aggregated shuffle, rates join
    back as a broadcast, and inclusion is the salted-md5 bucket rule
    (stable across runs/engines/backfills; rates quantize to
    1/65536). Sources absent from ``weights`` are dropped (weight 0);
    a weighted source ABSENT from the data makes the mixture
    infeasible and raises rather than silently returning an empty
    frame.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive: {weights}")
    tot = sum(weights.values())
    norm = {k: w / tot for k, w in weights.items()}
    wdf = local_frame(
        df.sparkSession,
        [(k, w) for k, w in sorted(norm.items())], f"{source_col} string, __wt double"
    )
    size = F.sum(size_col).cast("double") if size_col else F.count(F.lit(1)).cast("double")
    sizes = df.groupBy(source_col).agg(size.alias("__sz"))
    # anti-join build side must be the right: broadcast the (post-agg,
    # #sources-sized) size frame, not the weight literals
    present = {
        r[source_col]
        for r in wdf.join(F.broadcast(sizes), source_col, "left_anti").collect()
    }
    if present:
        raise ValueError(
            f"weighted sources absent from data (mixture infeasible): "
            f"{sorted(present)}"
        )
    t_total = (
        sizes.join(F.broadcast(wdf), source_col)
        .agg(F.min(F.col("__sz") / F.col("__wt")).alias("__t"))
    )
    rates = (
        sizes.join(F.broadcast(wdf), source_col)
        .crossJoin(F.broadcast(t_total))
        .select(
            source_col,
            F.least(
                F.lit(1.0), F.col("__wt") * F.col("__t") / F.col("__sz")
            ).alias("__rate"),
        )
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(
            _bucket16_expr(id_col, salt)
            < F.round(F.col("__rate") * 65536).cast("int")
        )
        .drop("__rate")
    )


def duck_mixture_sample_sql(
    source_col: str,
    id_col: str,
    weights: dict[str, float],
    size_col: str | None = None,
    salt: str = "mix",
    table: str = "documents",
) -> str:
    """DuckDB twin of ``mixture_sample`` (identical sizes → feasible
    total → quantized rates → salted-bucket predicate)."""
    tot = sum(weights.values())
    vals = ", ".join(
        f"('{k}', {w / tot!r})" for k, w in sorted(weights.items())
    )
    size = f"SUM({size_col})" if size_col else "COUNT(*)"
    return f"""
        WITH wt({source_col}, w) AS (VALUES {vals}),
        sz AS (SELECT {source_col}, CAST({size} AS DOUBLE) AS sz
               FROM {table} GROUP BY 1),
        tt AS (SELECT MIN(sz.sz / wt.w) AS t FROM sz JOIN wt USING ({source_col})),
        r AS (SELECT {source_col}, LEAST(1.0, wt.w * tt.t / sz.sz) AS rate
              FROM sz JOIN wt USING ({source_col}), tt)
        SELECT t.{id_col}, t.{source_col}
        FROM {table} t JOIN r USING ({source_col})
        WHERE CAST(('0x' || substr(md5('{salt}:' || CAST(t.{id_col} AS VARCHAR)), 1, 4)) AS INT)
              < CAST(round(r.rate * 65536) AS INT)
    """

"""Edge-case hardening for the round-3 additions: empty frontiers,
degenerate series, singular covariances — the paths a 100 TB run hits
in its long tail (a partition of empty docs, a constant series, a
collinear residual pair) must degrade cleanly, not throw."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark.functions.stats import adf_test, hosking_test
from var_elasticnet_bigdata_spark.operators.curation import (
    corpus_stats,
    curate_corpus,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_curation_empty_after_filter(spark):
    docs = _docs(spark, ["x", "yy", "z z"])  # all fail min_tokens=20
    kept = curate_corpus(docs)
    assert kept.count() == 0
    assert corpus_stats(kept).count() == 0


def test_curation_drops_exact_and_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    near = base.replace("lazy", "sleepy")
    other = "entirely different content about spark catalyst planning " * 6
    docs = _docs(spark, [base, base.upper(), near, other])
    kept = curate_corpus(docs, min_quality=0.0, min_tokens=5)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # doc1 is an exact dup of doc0 (case-normalized); doc2 a near-dup
    # (one word changed) dropped as the higher id of the pair;
    # doc3 survives
    assert ids == [0, 3]


def test_adf_constant_series_is_nan_not_crash():
    r = adf_test(np.full(40, 3.14), k=0)
    assert np.isnan(r["statistic"]) or np.isfinite(r["statistic"])


def test_adf_table_degenerate_series(spark):
    from var_elasticnet_bigdata_spark.functions.stats import adf_table

    pdf = pd.DataFrame(
        {
            "series_id": ["const"] * 30,
            "obs_date": pd.date_range("2020-01-01", periods=30).date,
            "value": [1.0] * 30,
        }
    )
    out = adf_table(spark.createDataFrame(pdf), k=0).collect()
    assert len(out) == 1  # one row, NaN stat — no exception


def test_hosking_singular_c0_uses_pinv():
    rng = np.random.default_rng(0)
    x = rng.normal(size=60)
    U = np.column_stack([x, 2.0 * x])  # rank-1 covariance
    rows = hosking_test(U, lags=(3,), order=0)
    assert np.isfinite(rows[0]["statistic"])


def test_ar1_relational_zero_prefix_guard(spark):
    import datetime as dt

    from var_elasticnet_bigdata_spark.harness.modeltrain import (
        ar1_rolling_relational,
    )

    n = 30
    vals = [0.0] * 12 + list(np.arange(1.0, n - 11))
    pdf = pd.DataFrame(
        {
            "obs_date": [
                dt.date(2000, 1, 1) + dt.timedelta(days=7 * i) for i in range(n)
            ],
            "a": vals,
        }
    )
    wide = spark.createDataFrame(pdf)
    out = ar1_rolling_relational(
        spark, wide, "a", start_pred=pdf["obs_date"][20], h=4
    ).collect()
    assert len(out) == 3  # horizons 1,2,4 — zero-denominator phi guarded


def test_asof_join_empty_right_keeps_left(spark):
    import pandas as pd

    from var_elasticnet_bigdata_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "t": [10, 20], "v": [1.0, 2.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1], "t": [5], "w": [9.0]})
    ).filter("k > 99")
    out = asof_join(left, right, "k", "t").toPandas()
    assert len(out) == 2 and out["w"].isna().all()
    inner = asof_join(left, right, "k", "t", how="inner").toPandas()
    assert len(inner) == 0


def test_range_join_empty_and_degenerate_interval(spark):
    import pandas as pd

    from var_elasticnet_bigdata_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame(pd.DataFrame({"p": [5.0, 6.0]}))
    iv = spark.createDataFrame(pd.DataFrame({"lo": [5.0], "hi": [5.0]}))
    out = range_join(pts, iv, "p", "lo", "hi", grid=10.0).toPandas()
    assert out["p"].tolist() == [5.0]  # zero-width interval still matches
    empty = range_join(
        pts.filter("p > 99"), iv, "p", "lo", "hi", grid=10.0
    ).toPandas()
    assert len(empty) == 0
    import pytest as _pt

    with _pt.raises(ValueError):
        range_join(pts, iv, "p", "lo", "hi", grid=0.0)


def test_salted_agg_empty_and_single_row(spark):
    import pandas as pd

    from var_elasticnet_bigdata_spark.operators.skew import salted_agg

    df = spark.createDataFrame(pd.DataFrame({"k": [7], "v": [3.5]}))
    out = salted_agg(
        df, ["k"], {"n": ("count", "v"), "a": ("avg", "v")}, salts=8
    ).toPandas()
    assert out.loc[0, "n"] == 1 and out.loc[0, "a"] == 3.5
    none = salted_agg(
        df.filter("k > 99"), ["k"], {"n": ("count", "v")}, salts=8
    ).toPandas()
    assert len(none) == 0


def test_grouped_quantiles_single_value_group(spark):
    import pandas as pd

    from var_elasticnet_bigdata_spark.operators.sketch import grouped_quantiles

    df = spark.createDataFrame(pd.DataFrame({"g": [1], "v": [2.0]}))
    out = grouped_quantiles(df, ["g"], "v", [0.0, 0.5, 1.0]).toPandas()
    assert out["value"].tolist() == [2.0, 2.0, 2.0]


# ---------------------------------------------------------------------------
# review-fix regressions: null handling and validation edges
# ---------------------------------------------------------------------------


def test_asof_null_timestamps_never_match(spark):
    """NULL-ts right rows are not matchable; NULL-ts left rows get
    NULL payloads (kept under how='left', dropped under 'inner') —
    in BOTH directions."""
    import pytest

    from var_elasticnet_bigdata_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, None, "b")], "k int, ts int, lv string"
    )
    right = spark.createDataFrame(
        [(1, 5, "r5"), (1, None, "rnull")], "k int, ts int, rv string"
    )
    for direction in ("backward", "forward"):
        rows = {
            r.lv: r
            for r in asof_join(
                left, right, "k", "ts", direction=direction, how="left"
            ).collect()
        }
        assert rows["b"].rv is None, direction  # null left ts: no match
        if direction == "backward":
            assert rows["a"].rv == "r5"
        else:
            assert rows["a"].rv is None  # only r5 (earlier) exists
        inner = asof_join(
            left, right, "k", "ts", direction=direction, how="inner"
        ).collect()
        assert all(r.lv == "a" or r.rv is not None for r in inner)


def test_asof_tolerance_on_ntz_timestamps(spark):
    """tolerance with TIMESTAMP_NTZ columns (the events.ts type) must
    plan and filter correctly (no direct NTZ→double cast)."""
    import datetime as dt

    from var_elasticnet_bigdata_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=100))], "k int, ts timestamp_ntz"
    )
    right = spark.createDataFrame(
        [(1, t0, 1.0)], "k int, ts timestamp_ntz, rv double"
    )
    hit = asof_join(left, right, "k", "ts", tolerance=200.0).collect()[0]
    assert hit.rv == 1.0
    miss = asof_join(left, right, "k", "ts", tolerance=50.0).collect()[0]
    assert miss.rv is None


def test_asof_rejects_incompatible_key_types(spark):
    import pytest

    from var_elasticnet_bigdata_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame([("x", 5, 1.0)], "k string, ts int, rv double")
    with pytest.raises(ValueError, match="incompatible join column types"):
        asof_join(left, right, "k", "ts")


def test_grouped_quantiles_keeps_all_null_group(spark):
    from var_elasticnet_bigdata_spark.operators.sketch import grouped_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("n", None), ("n", None)],
        "g string, v double",
    )
    rows = grouped_quantiles(df, ["g"], "v", [0.5]).collect()
    got = {r.g: r.value for r in rows}
    assert got["a"] == 2.0
    assert "n" in got and got["n"] is None  # group present, NULL quantile


def test_salted_join_rejects_zero_salts(spark):
    import pytest

    from var_elasticnet_bigdata_spark.operators.skew import (
        salted_agg,
        salted_join,
    )

    df = spark.createDataFrame([(1, 2.0)], "k int, v double")
    with pytest.raises(ValueError, match="salts"):
        salted_join(df, df, "k", salts=0)
    with pytest.raises(ValueError, match="salts"):
        salted_agg(df, ["k"], {"s": ("sum", "v")}, salts=0)


def test_ivf_assign_clamps_nprobe_to_cells(spark):
    import numpy as np

    from var_elasticnet_bigdata_spark.operators.similarity import ivf_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    C = np.array([[1.0, 0.0], [0.0, 1.0]])  # only 2 cells
    rows = ivf_assign(df, C, nprobe=5).collect()  # 5 > 2: clamp, no crash
    assert len(rows) == 4  # 2 vectors x 2 available cells
    assert {r.probe_rank for r in rows} == {0, 1}


def test_pacf_faithful_blocked_collect_guarded(spark, monkeypatch):
    """VERDICT r2 item 3: the faithful_blocked pivot→toPandas is now
    behind the driver-row ceiling, pointing at the distributed path."""
    import datetime as dt

    import numpy as np
    import pytest as _pytest

    from var_elasticnet_bigdata_spark.ml.selection import pacf_var_selection
    from var_elasticnet_bigdata_spark.plans.guards import (
        DriverMaterializationError,
    )

    rng = np.random.default_rng(9)
    T = 60
    rows = []
    for k in range(11):  # K=11 ≡ 3 (mod 4): valid blocked composition
        sid = "GDP" if k == 0 else f"s{k}"
        for i in range(T):
            rows.append(
                (sid, dt.date(1990, 1, 1) + dt.timedelta(days=30 * i),
                 float(rng.normal()))
            )
    df = spark.createDataFrame(
        rows, "series_id string, obs_date date, value double"
    )
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "10")
    with _pytest.raises(DriverMaterializationError, match="faithful_blocked=False"):
        pacf_var_selection(df, "GDP", lag=4, maxnrvar=4, faithful_blocked=True)
    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "100000")
    sel = pacf_var_selection(df, "GDP", lag=4, maxnrvar=4, faithful_blocked=True)
    assert sel[0] == "GDP"


def test_stat_hosking_collect_guarded(spark, monkeypatch):
    """stat_hosking's quarterly-matrix toPandas trips the guard when
    the frontier exceeds the configured ceiling."""
    import pytest as _pytest

    from var_elasticnet_bigdata_spark.plans.guards import (
        DriverMaterializationError,
    )
    from var_elasticnet_bigdata_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_MAX_DRIVER_ROWS", "3")
    with _pytest.raises(DriverMaterializationError, match="roll-up"):
        QUERIES["stat_hosking"](spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Driver correctness-window rotation (VERDICT r4 next-round #1)
# ---------------------------------------------------------------------------


def test_registry_rotation_deprioritizes_freshest_driver_green():
    """all_queries()/all_oracle_sql() must put queries whose driver-green
    is stalest FIRST so the driver's 50-slot sweep window cycles the
    whole registry every 2 rounds, flagship pinned at slot 0, and the
    two dicts must agree on relative order."""
    from var_elasticnet_bigdata_spark.queries import (
        _last_driver_green,
        all_oracle_sql,
        all_queries,
    )

    q = list(all_queries())
    o = list(all_oracle_sql())
    oset = set(o)
    assert [k for k in q if k in oset] == o
    assert q[0] == "flagship_quarterly_revenue_growth"
    green = _last_driver_green()
    if not green:  # fresh checkout: static fallback order, nothing to rotate
        return
    from var_elasticnet_bigdata_spark.queries import _FORCE_FRESH

    # _FORCE_FRESH queries (output contract changed in the keyed round,
    # no green row since) count as never-checked; satisfied entries are
    # ignored (ADVICE r8 #4 auto-expiry)
    rounds = [
        -1
        if green.get(k, -1) < _FORCE_FRESH.get(k, -(10**9))
        else green.get(k, -1)
        for k in q[1:]
    ]
    assert rounds == sorted(rounds), "staleness order must be ascending"


def test_force_fresh_entries_pending():
    """Every _FORCE_FRESH entry must still be PENDING: once the driver
    records a green row from >= the entry's contract-change round, the
    rotation auto-ignores it AND this test fails, forcing removal — a
    satisfied entry must never keep occupying the front of capped
    rotation sweeps (ADVICE r8 #4; the r8 set sat hardcoded with only
    a clear-me comment and no mechanism)."""
    from var_elasticnet_bigdata_spark.queries import (
        _FORCE_FRESH,
        _last_driver_green,
    )

    green = _last_driver_green()
    stale = {
        k: (rnd, green.get(k, -1))
        for k, rnd in _FORCE_FRESH.items()
        if green.get(k, -1) >= rnd
    }
    assert not stale, (
        f"_FORCE_FRESH entries already have fresh driver-green rows "
        f"(name: (introduced_round, green_round)) — remove them: {stale}"
    )
    # entries must name real registry queries keyed by a real round
    from var_elasticnet_bigdata_spark.queries import QUERIES

    for k, rnd in _FORCE_FRESH.items():
        assert k in QUERIES and isinstance(rnd, int) and rnd >= 1


def test_registry_rotation_fallback_without_artifacts(monkeypatch):
    """With no CORRECTNESS artifacts readable, ordering falls back to the
    static _PRIORITY list and never raises."""
    import var_elasticnet_bigdata_spark.queries as Q

    monkeypatch.setattr(Q, "_last_driver_green", lambda: {})
    q = list(Q.all_queries())
    assert q[0] == "flagship_quarterly_revenue_growth"
    assert len(q) == len(set(q))


# ---------------------------------------------------------------------------
# One-live-cache registry (ADVICE r4 / VERDICT r4 "what's wrong" #1 and #3)
# ---------------------------------------------------------------------------


def _stored(spark):
    return {
        r.id()
        for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if r.numCachedPartitions() > 0
    }


def test_logprob_second_call_releases_previous_token_cache(spark):
    """unigram/bigram_logprob persist the exploded token stream; a
    second scoring call must release the first call's cache via the
    registry, leaving at most ONE live token-stream cache per slot."""
    from var_elasticnet_bigdata_spark.operators.text import (
        bigram_logprob,
        unigram_logprob,
    )

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma tok{i}") for i in range(20)],
        "doc_id long, text string",
    )
    before = _stored(spark)
    unigram_logprob(docs).count()
    unigram_logprob(docs.limit(10)).count()
    assert len(_stored(spark) - before) <= 1
    bigram_logprob(docs).count()
    bigram_logprob(docs.limit(10)).count()
    # one live unigram slot + one live bigram slot at most
    assert len(_stored(spark) - before) <= 2


def test_identical_rebuild_keeps_cache_live(spark):
    """CacheManager keys entries by canonicalized plan, so when a
    slot is re-filled with a semantically IDENTICAL frame (bench's
    repeated runs of one query), persist(new) re-registers old's
    entry and an unconditional unpersist(old) would evict the entry
    the new frame relies on — silently uncaching every run after the
    first. swap_cache must skip the release for sameSemantics plans
    and the rebuilt frame must still report a storage level."""
    from var_elasticnet_bigdata_spark.plans.cachereg import swap_cache

    spark.catalog.clearCache()
    base = spark.range(100).withColumnRenamed("id", "doc_id")

    def build():
        return swap_cache(
            "test.identical_rebuild", base.selectExpr("doc_id", "doc_id * 2 AS v")
        )

    first = build()
    first.count()
    second = build()
    second.count()
    # the shared cache entry must survive the second registration
    assert second.storageLevel.useMemory or second.storageLevel.useDisk
    # ...and a semantically DIFFERENT rebuild still releases it
    third = swap_cache(
        "test.identical_rebuild", base.selectExpr("doc_id", "doc_id * 3 AS v")
    )
    third.count()
    assert not (first.storageLevel.useMemory or first.storageLevel.useDisk)
    assert third.storageLevel.useMemory or third.storageLevel.useDisk
    spark.catalog.clearCache()


def test_refill_with_equal_frame_does_not_persist_again(spark, monkeypatch):
    """Re-filling a slot with a rebuilt, semantically equal frame
    reads the cached entry as it is: a second persist only makes
    Spark log "Asked to cache already cached data"."""
    from pyspark.sql import DataFrame

    from var_elasticnet_bigdata_spark.plans.cachereg import swap_cache

    spark.catalog.clearCache()

    def build():
        return spark.range(50).selectExpr("id", "id * 5 AS v")

    first = swap_cache("test.refill_equal", build())
    first.count()
    persists = []
    persist = DataFrame.persist

    def counting_persist(self, *args, **kwargs):
        persists.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", counting_persist)
    second = swap_cache("test.refill_equal", build())
    second.count()
    assert persists == []
    assert second.storageLevel.useMemory or second.storageLevel.useDisk
    assert first.storageLevel.useMemory or first.storageLevel.useDisk
    spark.catalog.clearCache()


def test_cache_registry_is_per_session(spark):
    """Two SparkSessions sharing one driver must not evict each
    other's live staged frame (VERDICT r4 concurrency nit): the
    registry keys slots by session, so interleaved line_dedup calls
    from two sessions keep BOTH caches live."""
    from var_elasticnet_bigdata_spark.operators.text import line_dedup
    from var_elasticnet_bigdata_spark.plans.cachereg import live_cache_count

    spark.catalog.clearCache()
    other = spark.newSession()
    rows = [(i, "the same boilerplate line here " * 3) for i in range(12)]
    docs_a = spark.createDataFrame(rows, "doc_id long, text string")
    docs_b = other.createDataFrame(rows, "doc_id long, text string")
    before = _stored(spark)
    line_dedup(docs_a).count()
    line_dedup(docs_b).count()
    # session B's call must NOT have evicted session A's cache
    assert len(_stored(spark) - before) == 2
    assert live_cache_count("text.line_dedup_staged") >= 2
    # a second call on session A evicts only A's previous cache
    line_dedup(docs_a.limit(6)).count()
    assert len(_stored(spark) - before) == 2


def test_all_package_persists_are_registry_bounded():
    """Every .persist() and .cache() in the package must go through
    the cachereg registry (one live cache per session+slot), with no
    exception: a hand-placed persist outside it is the per-call leak
    class (ADVICE r3/r4), and a memo keyed outside the registry keeps
    a stopped session's frames alive because only the registry sweeps
    stopped sessions."""
    import pathlib

    import var_elasticnet_bigdata_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        if py.relative_to(root).as_posix() == "plans/cachereg.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".persist(" in line or ".cache()" in line:
                offenders.append(f"{py.relative_to(root)}:{i}")
    assert offenders == [], offenders


def test_shared_frame_builds_once_and_repersists_after_clear(spark):
    """A shared roll-up frame (queries._daily_events/_quarterly_pair)
    is built once per (session, slot) and re-registered after a
    clearCache, so the next action materializes it once. Rebuilding
    it per call would re-read its parquet sources, one
    schema-inference Spark job per read."""
    from var_elasticnet_bigdata_spark.plans.cachereg import (
        live_cache_count,
        shared_frame,
    )

    builds = []

    def build():
        builds.append(1)
        return spark.range(30).selectExpr("id", "id * 5 AS v")

    a = shared_frame(spark, "test.shared_frame", build)
    a.count()
    spark.catalog.clearCache()
    assert not (a.storageLevel.useMemory or a.storageLevel.useDisk)
    b = shared_frame(spark, "test.shared_frame", build)
    assert b is a and len(builds) == 1
    assert b.storageLevel.useMemory or b.storageLevel.useDisk
    assert live_cache_count("test.shared_frame") == 1
    spark.catalog.clearCache()


def test_release_session_drops_live_slots(spark):
    """ADVICE r5 #4: the cache registry must offer a session release
    hook so churning drivers (tests, notebooks) don't accumulate one
    pinned frame per slot per dead session; after release, the slot
    re-fills normally."""
    from var_elasticnet_bigdata_spark.plans.cachereg import (
        live_cache_count,
        release_session,
        swap_cache,
    )

    spark.catalog.clearCache()
    df = swap_cache(
        "test.release_session", spark.range(50).selectExpr("id", "id*2 AS v")
    )
    df.count()
    assert live_cache_count("test.release_session") == 1
    assert release_session(spark) >= 1
    assert live_cache_count("test.release_session") == 0
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    # slot re-fills after release
    df2 = swap_cache(
        "test.release_session", spark.range(50).selectExpr("id", "id*3 AS v")
    )
    df2.count()
    assert live_cache_count("test.release_session") == 1
    release_session(spark)
    spark.catalog.clearCache()

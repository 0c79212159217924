"""Physical-plan assertions — the 100 TB-readiness contract checked
on the plan itself: pushdown, pruning, broadcast, codegen,
TakeOrderedAndProject (SURVEY §4.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark import queries as Q
from var_elasticnet_bigdata_spark.plans import (
    assert_scan_pruned,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    wholestage_codegen_spans,
)
from var_elasticnet_bigdata_spark.plans.inspect import scan_ancestors
from var_elasticnet_bigdata_spark.sources import load_table

from .conftest import SF_ORACLE


def test_filter_pushdown_reaches_scan(spark):
    df = Q.p_filter_project(spark, SF_ORACLE)
    pf = pushed_filters(df)
    assert any("c_mktsegment" in f for f in pf), pf
    assert any("c_acctbal" in f for f in pf), pf


def test_column_pruning(spark):
    df = Q.p_filter_project(spark, SF_ORACLE)
    # customer has 5 columns; the query reads 4 (3 projected + the
    # filter column) — c_nationkey must NOT be read
    assert_scan_pruned(df, table_cols=5, max_read_cols=4)
    flagship = Q.flagship_quarterly_revenue_growth(spark, SF_ORACLE)
    # orders has 6 columns; flagship needs o_orderdate + o_totalprice
    assert_scan_pruned(flagship, table_cols=6, max_read_cols=2)


def _first_exchange(ancestors: list[str]) -> str | None:
    return next((a for a in ancestors if a.startswith("Exchange")), None)


def test_corpus_scan_floor_keeps_pushdown(spark):
    """A single-split documents scan is hash-spread on doc_id to the
    shuffle-partition count, and the floor sits above the filter and
    the projection: both still reach the parquet scan."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = (
        load_table(spark, SF_ORACLE, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "text")
    )
    (anc,) = scan_ancestors(df, "documents.parquet")
    assert _first_exchange(anc) == f"Exchange hashpartitioning(doc_id, {n})", anc
    assert any("lang" in f for f in pushed_filters(df)), pushed_filters(df)
    # documents has 5 columns; the scan reads doc_id, text and lang
    assert_scan_pruned(df, table_cols=5, max_read_cols=3)


def test_corpus_scan_floor_is_noop_on_split_scans(spark, tmp_path):
    """The 100 TB case: a documents directory whose part files each
    scan as their own split (``openCostInBytes`` at the split size, as
    when files exceed it) arrives with >= shuffle.partitions splits
    and gets no exchange at all."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.read.parquet(f"{SF_ORACLE}/documents.parquet").repartition(n).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.conf.set("spark.sql.files.openCostInBytes", "128m")
    try:
        df = load_table(spark, str(tmp_path), "documents")
        assert df.rdd.getNumPartitions() >= n
        scans = scan_ancestors(df, "documents.parquet")
    finally:
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert scans and not any(_first_exchange(a) for a in scans), scans


def test_union_branches_keep_the_floor(spark, monkeypatch):
    """Every documents scan of dedup_substring, including the planted
    branch of its Union, sits under the doc_id floor."""
    monkeypatch.setenv("SPARK_GRAFT_NO_STAGED_CACHE", "1")
    spark.catalog.clearCache()
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    scans = scan_ancestors(Q.dedup_substring(spark, SF_ORACLE), "documents.parquet")
    assert len(scans) >= 2, scans
    for anc in scans:
        assert _first_exchange(anc) == f"Exchange hashpartitioning(doc_id, {n})", anc


def test_dim_join_broadcasts(spark):
    df = Q.j_broadcast_dim_join(spark, SF_ORACLE)
    assert has_broadcast_join(df)


def test_topn_is_take_ordered(spark):
    df = Q.t1_topn_deterministic(spark, SF_ORACLE)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_wholestage_codegen_present(spark):
    # AQE hides codegen subtrees until execution; plan without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = Q.flagship_quarterly_revenue_growth(spark, SF_ORACLE)
        assert wholestage_codegen_spans(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_window_partitioned_by_series(spark):
    # per-series windows must partition, not run on one global sort
    df = Q.w1_diff(spark, SF_ORACLE)
    text = explain_str(df)
    assert "partition" in text.lower()
    # the window spec partitions by series_id
    assert "series_id" in text


def test_time_slice_pushdown(spark):
    df = Q.p3_time_slice(spark, SF_ORACLE)
    pf = pushed_filters(df)
    assert any("o_orderdate" in f for f in pf), pf


def test_ar1_coefs_stays_jvm_side(spark):
    # M9's estimator is covariance aggregates — the plan must contain
    # no Python evaluation (no UDF/mapInPandas) and prune the scan to
    # the three needed event columns
    df = Q.ml_ar1_coefs(spark, SF_ORACLE)
    text = explain_str(df)
    assert "Python" not in text and "ArrowEval" not in text
    assert "series_id" in text  # windowed lag partitioned per series
    cols = read_schema_columns(df)
    assert all(len(c) <= 3 for c in cols), cols


def test_curation_pipeline_stays_jvm_side(spark):
    # the composed curation pipeline is pure built-in expressions:
    # no Python boundary anywhere, and the documents scan pruned to
    # (doc_id, text) out of 5 columns
    df = Q.pipeline_corpus_curation(spark, SF_ORACLE)
    text = explain_str(df)
    assert "Python" not in text and "ArrowEval" not in text
    assert "CartesianProduct" not in text  # near-dup join is bucketed
    assert_scan_pruned(df, table_cols=5, max_read_cols=2)


def test_adf_batch_partitions_by_series(spark):
    # M18's grouped pass: one Arrow batch per series, never a global
    # collect — the plan groups on series_id
    df = Q.stat_adf_batch(spark, SF_ORACLE)
    text = explain_str(df)
    assert "series_id" in text
    assert "FlatMapGroupsInPandas" in text or "applyInPandas" in text.lower()


def test_session_window_partitions_by_user(spark):
    # gaps-and-islands sessionization: both windows partition by
    # user_id — never a global single-partition sort
    df = Q.g7_session_window(spark, SF_ORACLE)
    text = explain_str(df)
    assert "user_id" in text
    assert "partition" in text.lower()

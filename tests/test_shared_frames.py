"""The two shared roll-ups (``queries._quarterly_pair``,
``queries._daily_events``) are staged as one date-sorted partition, so
their consumers plan no Exchange and no Sort above the cached scan and
the var_forecast queries reach the driver in few Spark jobs. These
tests fail when the staging goes back to a multi-partition frame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from var_elasticnet_bigdata_spark import queries as Q
from var_elasticnet_bigdata_spark.plans.inspect import _plan_children

from .conftest import SF_ORACLE

# Spark jobs of one execution (build plus a noop write) with both
# shared frames already cached
WARM_JOBS = {
    "ml_sigma_ic": 2,
    "ml_cv_lambda_min": 2,
    "ml_group_enet_coefs": 2,
    "stat_adf_batch": 1,
    "ml_ezlasso_select": 2,
    "ml_pacf_blocked": 2,
    "ml_theils_u_ar1": 6,
}


def _stage_shared(spark):
    spark.catalog.clearCache()
    Q._quarterly_pair(spark, SF_ORACLE).count()
    Q._daily_events(spark, SF_ORACLE).count()


@pytest.mark.parametrize("name", sorted(WARM_JOBS))
def test_var_forecast_warm_job_count(spark, name):
    _stage_shared(spark)
    sc = spark.sparkContext
    group = f"warm-{name}"
    sc.setJobGroup(group, group)
    try:
        Q.QUERIES[name](spark, SF_ORACLE).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == WARM_JOBS[name]


def _above_cached_scan(df) -> list[str]:
    """Physical node names from the plan root down to (and including)
    each cached scan, not descending into the cached plan."""
    names: list[str] = []

    def walk(node) -> None:
        names.append(node.nodeName())
        if node.nodeName() != "InMemoryTableScan":
            for child in _plan_children(node):
                walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return names


def test_shared_frame_consumers_plan_no_exchange(spark):
    from var_elasticnet_bigdata_spark.ml.gram import blocked_fold_column
    from var_elasticnet_bigdata_spark.operators.lag_embed import var_z

    _stage_shared(spark)
    pair = Q._quarterly_pair(spark, SF_ORACLE)
    lagged = blocked_fold_column(var_z(pair, ["revenue", "quantity"], 2).complete)
    daily = Q._daily_events(spark, SF_ORACLE)
    per_series = daily.groupBy("series_id").agg(F.count("*").alias("n"))
    for df in (lagged, per_series):
        nodes = _above_cached_scan(df)
        assert "InMemoryTableScan" in nodes, nodes
        assert not [n for n in nodes if "Exchange" in n or n == "Sort"], nodes

"""`sources.tables.local_frame`: driver-built rows become a
`LocalRelation` holding exactly the values `createDataFrame` stores,
and no package module builds a frame from local rows any other way."""

from __future__ import annotations

import ast
import datetime
import json
import os
import subprocess
import sys

from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "var_elasticnet_bigdata_spark")

DDL = "s string, i int, l long, d double, dt date, ts timestamp"
STRUCT = StructType(
    [
        StructField("s", StringType()),
        StructField("i", IntegerType()),
        StructField("l", LongType()),
        StructField("d", DoubleType()),
        StructField("dt", DateType()),
        StructField("ts", TimestampType()),
    ]
)
ROWS = [
    ("a", 1, 2**40, 1.5, datetime.date(2020, 1, 2),
     datetime.datetime(2020, 3, 4, 5, 6, 7, 123456)),
    (None, None, None, None, None, None),
    ("", -(2**31), -(2**63), float("nan"), datetime.date(1969, 12, 31),
     datetime.datetime(1969, 12, 31, 23, 59, 59, 1)),
    ("ü∑", 2**31 - 1, 2**63 - 1, float("inf"), datetime.date(2000, 2, 29),
     datetime.datetime(2024, 2, 29)),
    ("z", 0, 0, float("-inf"), datetime.date(1, 1, 1),
     datetime.datetime(9999, 12, 31, 23, 59, 59, 999999)),
    ("n", 7, -7, -0.0, None, datetime.datetime(1970, 1, 1)),
]


def _exact(rows) -> list[tuple[str, ...]]:
    # repr tells NaN from NaN-free rows and -0.0 from 0.0, which == does not
    return [tuple(repr(v) for v in r) for r in rows]


def _mismatches(spark) -> list[str]:
    """Every case where ``local_frame`` differs from ``createDataFrame``
    in schema, values or plan leaf (empty when they agree)."""
    from var_elasticnet_bigdata_spark.sources.tables import local_frame

    bad = []
    for label, schema in (("ddl", DDL), ("struct", STRUCT)):
        for rows in (ROWS, []):
            tag = f"{label}/{len(rows)} rows"
            got = local_frame(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            if got.schema != want.schema:
                bad.append(f"{tag}: schema {got.schema} != {want.schema}")
            if _exact(got.collect()) != _exact(want.collect()):
                bad.append(f"{tag}: values differ")
            for frame in (got, got.orderBy("i")):
                leaves = _leaf_names(frame)
                if leaves != ["LocalRelation"]:
                    bad.append(f"{tag}: optimized plan leaves {leaves}")
        # driver-side order_by sorts as Spark's ASC does (NULL first,
        # NaN last) and leaves no Sort in the plan
        for keys in (("s",), ("i",), ("d",), ("dt", "l"), ("ts",)):
            tag = f"{label}/order_by={keys}"
            got = local_frame(spark, ROWS, schema, order_by=keys)
            want = local_frame(spark, ROWS, schema).orderBy(*keys)
            if _exact(got.collect()) != _exact(want.collect()):
                bad.append(f"{tag}: order differs from orderBy")
            root = got._jdf.queryExecution().optimizedPlan().nodeName()
            if root != "LocalRelation":
                bad.append(f"{tag}: optimized plan root {root}")
    return bad


def _leaf_names(df) -> list[str]:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.length())]


def test_local_frame_matches_create_dataframe(spark):
    assert _mismatches(spark) == []


def test_create_dataframe_plans_a_python_rdd(spark):
    """The contrast the helper exists for: a list-input
    ``createDataFrame`` is a ``LogicalRDD`` over a Python RDD."""
    assert _leaf_names(spark.createDataFrame(ROWS, DDL)) == ["LogicalRDD"]


def test_local_frame_on_a_plain_session():
    """``__spark_entry__`` callers may pass a plain ``local[2]`` session
    without the engine's confs (no Arrow flag, no UTC session zone);
    the helper must agree with ``createDataFrame`` there too."""
    script = (
        "import json\n"
        "from pyspark.sql import SparkSession\n"
        "from tests.test_local_frame import _mismatches\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "print('RESULT', json.dumps(_mismatches(spark)))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, out.stderr[-2000:]
    assert json.loads(lines[-1][len("RESULT "):]) == []


def _create_dataframe_calls(path: str) -> list[str]:
    """``createDataFrame`` calls in ``path`` outside the one helper."""
    tree = ast.parse(open(path).read(), path)
    rel = os.path.relpath(path, PKG)
    allowed: set[int] = set()
    if rel == os.path.join("sources", "tables.py"):
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed = {id(n) for n in ast.walk(node)}
    return [
        f"{rel}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_driver_frames_only_through_local_frame():
    """A list-input ``createDataFrame`` runs one Python task per
    default-parallelism slice on every execution of the frame; every
    package module builds driver-side frames with ``local_frame``."""
    bad = [
        v
        for d, _, files in os.walk(PKG)
        for f in sorted(files)
        if f.endswith(".py")
        for v in _create_dataframe_calls(os.path.join(d, f))
    ]
    assert bad == []


def test_structural_check_flags_a_hand_written_frame(tmp_path):
    """The check above is not vacuous."""
    p = tmp_path / "op.py"
    p.write_text(
        "def op(spark):\n"
        "    return spark.createDataFrame([(1,)], 'x int')\n"
    )
    assert _create_dataframe_calls(str(p)) == [
        f"{os.path.relpath(str(p), PKG)}:2"
    ]

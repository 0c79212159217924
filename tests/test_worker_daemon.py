"""`worker_daemon`: the engine's Python workers import pyspark from the
`$SPARK_HOME/python` tree, with no large archive on their path for
`importlib.invalidate_caches()` to re-read before every task."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipimport

import pytest

from var_elasticnet_bigdata_spark.worker_daemon import strip_archives

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_strip_archives_swaps_zip_for_tree_and_drops_jars(tmp_path):
    # a fake $SPARK_HOME/python holding pyspark/__init__.py
    tree = str(tmp_path / "python")
    os.makedirs(os.path.join(tree, "pyspark"))
    open(os.path.join(tree, "pyspark", "__init__.py"), "w").close()
    zp = os.path.join(tree, "lib", "pyspark.zip")
    py4j = os.path.join(tree, "lib", "py4j-0.10.9.9-src.zip")
    jar = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar")
    other = str(tmp_path / "site-packages")
    cache = {
        zp: "zip",
        zp + "/pyspark": "zip-pkg",
        zp + "/pyspark/sql": "zip-subpkg",
        zp + "-other": "not-under-zip",
        jar: "jar",
        py4j: "py4j",
        other: "dir",
    }
    path = ["", zp, py4j, jar, other]
    assert strip_archives(path, cache) == ["", tree, py4j, other]
    assert cache == {zp + "-other": "not-under-zip", py4j: "py4j", other: "dir"}


def test_strip_archives_keeps_zip_without_tree(tmp_path):
    zp = str(tmp_path / "python" / "lib" / "pyspark.zip")
    jar = str(tmp_path / "spark-core.jar")
    cache = {zp: "zip", zp + "/pyspark": "zip-pkg", jar: "jar"}
    assert strip_archives([zp, jar], cache) == [zp]
    assert cache == {zp: "zip", zp + "/pyspark": "zip-pkg"}


def _worker_view(spark) -> dict:
    """pyspark's file, sys.path and zipimporter cache keys as a Python
    worker of ``spark`` sees them."""

    def probe(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        view = {"file": pyspark.__file__, "path": sys.path, "zips": zips}
        yield pd.DataFrame({"v": [json.dumps(view)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "v string").collect()
    return json.loads(rows[0].v)


def test_workers_import_pyspark_from_tree(spark):
    tree = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "pyspark")
    if not os.path.isfile(os.path.join(tree, "__init__.py")):
        pytest.skip("no $SPARK_HOME/python/pyspark tree")
    view = _worker_view(spark)
    assert ".zip" not in view["file"], view["file"]
    assert not [p for p in view["path"] if p.endswith(".jar")], view["path"]
    bad = [k for k in view["zips"] if "pyspark.zip" in k or ".jar" in k]
    assert not bad, bad


def test_daemon_resolves_from_pythonpath_outside_repo(tmp_path):
    """A `get_spark` session whose driver cwd is outside the checkout,
    with the checkout on PYTHONPATH as perfbench/run.py sets it, still
    starts its workers and runs a Python UDF."""
    script = (
        "from pyspark.sql.functions import udf\n"
        "from var_elasticnet_bigdata_spark.session import get_spark\n"
        "s = get_spark('daemon-cwd', shuffle_partitions=2)\n"
        "f = udf(lambda x: x * 2, 'long')\n"
        "print(sorted(r[0] for r in s.range(3).select(f('id')).collect()))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4]"

"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same config block
is what we would ship to a 1000-executor cluster — AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow on
(every pandas-UDF boundary is Arrow-batched), and broadcast join
threshold left to AQE's runtime statistics.
"""

from __future__ import annotations

import os

# Pin BLAS to one thread BEFORE numpy loads anywhere: the estimation
# kernels are many small (≤900²) matrices across many parallel Spark
# workers — per-worker multithreaded BLAS (32 threads × 32 workers)
# thrashes the box into 10-50× slowdowns. Parallelism belongs to
# Spark's task scheduler, not the BLAS.
for _v in (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "var_elasticnet_bigdata_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this is instead sized to ~2-3x total executor cores and AQE
    coalesces small post-shuffle partitions automatically.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    b = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # workers import pyspark from $SPARK_HOME/python, not the zip
        # whose directory every task re-reads (see worker_daemon.py)
        .config(
            "spark.python.daemon.module",
            "var_elasticnet_bigdata_spark.worker_daemon",
        )
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for v in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        b = b.config(f"spark.executorEnv.{v}", "1")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

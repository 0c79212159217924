"""Parquet table registry for the canonical test schema.

The reference reads rectangular Excel ranges (``Main.R:32-37``); the
engine's canonical sources are columnar Parquet scans — Catalyst gives
column pruning + predicate pushdown for free, which is the scan-side
behaviour the ranged Excel reads emulated by hand (SURVEY §2.1 S1-S4).

At 100 TB, the fact tables (``lineitem``, ``orders``, ``events``)
would be date-partitioned so `P3` time-window slices become partition
pruning rather than row filters; the API here is unchanged.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..plans.spread import spread_to_cores

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# corpus tables whose scans feed CPU-heavy narrow passes, and the id
# column their parallelism floor hashes on
FLOOR_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Pure `spark.read.parquet` — projection and
    filters are left to the caller so Catalyst pushes them into the
    scan (verify with `.explain`: `PushedFilters` / narrow `ReadSchema`).

    ``events.ts`` is stored as TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as long
    nanoseconds and is converted to a microsecond TIMESTAMP_NTZ here
    (floor-truncation — the same ns→µs semantics DuckDB applies).

    A ``documents``/``embeddings`` scan with fewer partitions than
    ``spark.sql.shuffle.partitions`` (a single small file is one) is
    hash-repartitioned to that count on its id column
    (``plans.spread.spread_to_cores``): the one parallelism floor every
    corpus operator inherits. Filters and projections still push
    below the exchange into the scan; a scan that already arrives
    with enough splits is returned as is."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long")).cast(
                "timestamp_ntz"
            ),
        )
    if name in FLOOR_KEYS:
        df = spread_to_cores(df, FLOOR_KEYS[name])
    return df


def _asc(v) -> tuple:
    """Sort key of one internal value under Spark's ``ASC``: NULL first,
    NaN after every other double."""
    if v is None:
        return (0,)
    if v != v:
        return (2,)
    return (1, v)


def local_frame(
    spark: SparkSession,
    rows: Iterable,
    schema: str | StructType,
    order_by: Sequence[str] = (),
) -> DataFrame:
    """A frame over driver-built ``rows``, planned as a ``LocalRelation``.

    ``spark.createDataFrame(rows, schema)`` plans a ``LogicalRDD`` over
    ``sc.parallelize`` plus a Python identity map, so EVERY execution
    of the frame starts one Python task per default-parallelism slice
    (twice under a trailing ``orderBy``: range-bound sampling, then
    the shuffle map stage). Here each row is verified and converted
    with the schema's own ``toInternal`` — exactly what
    ``createDataFrame`` does, so dates are day numbers, timestamps
    epoch microseconds and every value is the one it would store —
    then handed over as a ``pyarrow.Table`` typed to the schema. Spark
    turns that into a ``LocalRelation`` with real size statistics
    (below ``spark.sql.execution.arrow.localRelationThreshold``), so
    executing the frame runs no Python worker. ``schema`` is a DDL
    string or a ``StructType``.

    ``order_by`` names columns to sort the rows by on the driver,
    ascending as ``orderBy`` would: a trailing ``orderBy`` on the frame
    costs two Spark jobs per execution instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(row))
    if order_by:
        keys = [struct.names.index(c) for c in order_by]
        internal.sort(key=lambda r: [_asc(r[i]) for i in keys])
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` queries and
    the DataFrame API share one catalog."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

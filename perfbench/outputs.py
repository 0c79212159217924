"""Expected outputs of the benchmark's queries.

``perfbench/expected/<query>.parquet`` holds each query's output on
``perfbench/data``. The verify pass of every run compares a fresh
collect against it with the repo's oracle comparison
(``tools.check_oracle.compare``: row count, column set, order-insensitive
and float-tolerant values).

Regenerate after a change that legitimately alters an output:

    python3 perfbench/outputs.py [query ...]

Each output is first checked against its DuckDB twin (the query's
registered oracle SQL, run over the same tables); a query whose Spark
output and twin disagree is reported and not written.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
EXPECTED_DIR = os.path.join(HERE, "expected")

_cache: dict[str, pd.DataFrame] = {}


def expected(name: str) -> pd.DataFrame:
    if name not in _cache:
        _cache[name] = pd.read_parquet(os.path.join(EXPECTED_DIR, f"{name}.parquet"))
    return _cache[name]


def check(name: str, got: pd.DataFrame) -> list[str]:
    """Problems found comparing ``got`` with the stored output; empty
    when they match."""
    from tools.check_oracle import compare

    return compare(name, got, expected(name))


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import run
    from tools.check_oracle import TABLES, compare
    from var_elasticnet_bigdata_spark import queries as Q
    from var_elasticnet_bigdata_spark.session import get_spark

    spec = run.load_spec()
    names = sys.argv[1:] or [
        n for w in spec["workloads"].values() for n in w["queries"]
    ]
    os.makedirs(run.RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="outputs-", dir=run.RUNS_DIR)
    conf = run.isolate(run_dir)
    spark = get_spark("perfbench-outputs", extra_conf=conf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    oracles = Q.all_oracle_sql()
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    bad = []
    try:
        for name in names:
            got = Q.QUERIES[name](spark, DATA_DIR).toPandas()
            problems = compare(name, got, con.execute(oracles[name]).fetchdf())
            if problems:
                bad.append(name)
                print(f"MISMATCH {name}: {'; '.join(problems)}")
                continue
            got.to_parquet(os.path.join(EXPECTED_DIR, f"{name}.parquet"), index=False)
            # the stored file must round-trip to an equal frame
            problems = check(name, got)
            if problems:
                bad.append(name)
                print(f"ROUND-TRIP {name}: {'; '.join(problems)}")
                continue
            print(f"ok {name}: {len(got)} rows")
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark harness: runs every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is materialized with a noop sink so the timing covers the
full plan (scan → shuffle → result) without driver-collect overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    from var_elasticnet_bigdata_spark import queries as Q
    from var_elasticnet_bigdata_spark.session import get_spark

    # UI server ON for the status REST API (shuffle-bytes accounting,
    # tools/spark_metrics.py) — the AppStatus listener runs either
    # way, the server just exposes it; retention raised so one
    # query's stage window never evicts mid-measurement
    spark = get_spark(
        "bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmups to exclude cold-start from the numbers: the shared
    # session warmup (JVM/codegen via the flagship, the mapInPandas
    # and applyInPandas worker pools, the big tables' page cache, the
    # window/lag-embed plan shape), then bench's extras
    from tools.retime import warmup_session
    from var_elasticnet_bigdata_spark.sources import load_table, local_frame

    warmup_session(spark, sf_dir)
    # the cogroup Arrow path initializes separately from mapInPandas
    # and applyInPandas — without this the first IVF (cogroup) query
    # carries the init cost
    tiny = local_frame(spark, [(1, 1.0)], "k int, v double")
    tiny.groupBy("k").cogroup(tiny.groupBy("k")).applyInPandas(
        lambda a, b: a, "k int, v double"
    ).write.format("noop").mode("overwrite").save()
    # first scan of each table pays parquet footer reads + page-cache
    # fill; warm the tables warmup_session leaves cold, untimed, so
    # per-query numbers measure plans, not which query happens to
    # touch a table first
    for t in ("region", "nation", "customer", "supplier", "part"):
        load_table(spark, sf_dir, t).write.format("noop").mode(
            "overwrite"
        ).save()
    # rollup+join exercises the aggregate/join JIT the ML head queries
    # hit first under the priority ordering — C2 compilation of that
    # shared infrastructure is not any one query's cost
    Q.QUERIES["a1_quarterly_rollup"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()

    # N warm runs per query, report the MEDIAN: this host's shared-load
    # variance put 79-140 s of spread on identical code (SCALING.md),
    # which made single-run round-over-round comparison the weakest
    # link of the regression gate (VERDICT r4 #5). Runs of one query
    # are consecutive (JIT-warm by design); the median of 3 drops the
    # one-off GC/load spike that a mean would smear.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    shuffle_bytes: dict[str, dict[str, int]] = {}
    from tools.spark_metrics import shuffle_totals

    _cursor = shuffle_totals(spark)
    _last_stage = _cursor["max_stage_id"] if _cursor else -1
    # iterate in REGISTRATION order, not all_queries()'s priority
    # order: the priority reorder exists for the driver's capped
    # correctness sweep, but bench positions must stay comparable to
    # the baseline (first-position JIT noise showed up as phantom
    # 1.5x "regressions" on whichever ML query ran first)
    for name, fn in Q.QUERIES.items():
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            # several operators persist() intra-query shared frames;
            # drop them between runs (untimed) so repeated runs and
            # 100 queries in one JVM don't accumulate cached blocks
            # and GC drag in the 8g driver
            spark.catalog.clearCache()
        samples.sort()
        timings[name] = samples[len(samples) // 2]
        spread[name] = [samples[0], samples[-1]]
        # shuffle bytes over this query's stage window, averaged per
        # run — the number that becomes network traffic on a cluster
        tot = shuffle_totals(spark, after_stage_id=_last_stage)
        if tot is not None:
            shuffle_bytes[name] = {
                "read": tot["read"] // runs,
                "write": tot["write"] // runs,
            }
            _last_stage = tot["max_stage_id"]
    total = round(sum(timings.values()), 3)

    full = {
        "metric": "sum_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs_per_query": runs,
        "spread": spread,
        "shuffle_bytes": shuffle_bytes,
        "sf": sf_val,
    }
    # Full per-query detail goes to a file (and a first stdout line for
    # humans); the FINAL stdout line is a compact variant capped well
    # under 2000 chars.  The driver keeps only the last ~2000 chars of
    # stdout and parses the JSON line out of that tail — with 90+
    # registered queries the full line is ~2.4k chars, so its head gets
    # truncated and every round's BENCH artifact ended up "parsed":
    # null.  The compact line carries the same metric/value/unit/sf
    # plus the slowest queries that fit; bench_full.json has the rest.
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "bench_full.json"), "w") as f:
            json.dump(full, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line below still has it all
    print(json.dumps(full))

    compact: dict[str, object] = {
        "metric": "sum_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries_total": len(timings),
        "detail": "bench_full.json",
        "queries": {},
    }
    budget = 1400  # hard cap for the final line, with tail-size margin
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    for name, secs in slowest:
        compact["queries"][name] = secs  # type: ignore[index]
        if len(json.dumps(compact)) > budget:
            del compact["queries"][name]  # type: ignore[attr-defined]
            break
    compact["queries_shown"] = len(compact["queries"])  # type: ignore[arg-type]
    line = json.dumps(compact)
    assert len(line) <= 1900, len(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()

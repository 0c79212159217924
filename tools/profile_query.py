"""Job-level profile of ONE registered query: run it warmed (same
session warmups as bench.py via tools.retime helpers), then dump every
Spark job the timed run submitted — description, duration, stage count
— from the status REST API. This answers "which ACTION inside the
query owns the wall-clock" (store writes vs checkpoints vs the final
noop sink), which stage-level shuffle accounting cannot.

    python tools/profile_query.py <query> [more queries...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_PROFILE_WARM (untimed warm runs first, default 1).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jobs_after(spark, after_job_id: int) -> list[dict]:
    sc = spark.sparkContext
    base = sc.uiWebUrl
    url = f"{base}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=30) as resp:
        jobs = json.load(resp)
    out = []
    for j in jobs:
        if j["jobId"] <= after_job_id:
            continue
        try:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%fGMT"
            t0 = datetime.strptime(j["submissionTime"], fmt)
            t1 = datetime.strptime(j["completionTime"], fmt)
            dur = (t1 - t0).total_seconds()
        except Exception:
            dur = -1.0
        out.append(
            {
                "jobId": j["jobId"],
                "sec": round(dur, 3),
                "stages": len(j.get("stageIds", [])),
                "tasks": j.get("numTasks", -1),
                "desc": (j.get("description") or j.get("name", ""))[:110],
            }
        )
    return sorted(out, key=lambda r: r["jobId"])


def max_job_id(spark) -> int:
    sc = spark.sparkContext
    base = sc.uiWebUrl
    url = f"{base}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=30) as resp:
        jobs = json.load(resp)
    return max((j["jobId"] for j in jobs), default=-1)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: python tools/profile_query.py <query> [...]")
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm = int(os.environ.get("SPARK_GRAFT_PROFILE_WARM", "1"))

    from tools.retime import warmup_session
    from var_elasticnet_bigdata_spark import queries as Q
    from var_elasticnet_bigdata_spark.session import get_spark

    spark = get_spark("profile_query", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")

    warmup_session(spark, sf_dir)

    for name in names:
        fn = Q.QUERIES[name]
        for _ in range(warm):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        j0 = max_job_id(spark)
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 3)
        rows = jobs_after(spark, j0)
        spark.catalog.clearCache()
        print(f"\n=== {name}: wall {wall}s, {len(rows)} jobs, "
              f"job-sum {round(sum(r['sec'] for r in rows), 3)}s ===")
        for r in rows:
            print(f"  job {r['jobId']:>5} {r['sec']:>8.3f}s "
                  f"stages={r['stages']:<3} tasks={r['tasks']:<5} {r['desc']}")
    spark.stop()


if __name__ == "__main__":
    main()

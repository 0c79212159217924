"""Per-pass numbers from Spark's status store and from returned plans.

The status store is read through the UI's REST API on localhost (the
session runs with ``spark.ui.enabled=true``). A ``Window`` remembers the
highest job, stage and SQL-execution ids seen before a pass, so the
numbers after it cover exactly the pass's own work.
"""

from __future__ import annotations

import json
import re
import statistics
import urllib.request
from datetime import datetime, timezone

_TIME_FMT = "%Y-%m-%dT%H:%M:%S.%fGMT"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,.]*)\s*(B|KiB|MiB|GiB|TiB)\b")
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def _ts(s: str) -> float:
    return datetime.strptime(s, _TIME_FMT).replace(tzinfo=timezone.utc).timestamp()


def drain(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    status store holds the jobs just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class Window:
    """Marks the status-store position before a pass."""

    def __init__(self, spark) -> None:
        drain(spark)
        self.spark = spark
        self.job = max((j["jobId"] for j in _get(spark, "jobs")), default=-1)
        self.stage = max((s["stageId"] for s in _get(spark, "stages")), default=-1)
        execs = _get(spark, "sql?details=false&length=1000000")
        self.sql = max((e["id"] for e in execs), default=-1)
        self.sql_seen = len(execs)

    def collect(self, pass_wall_s: float) -> dict:
        """Counts and times of every job, stage and SQL execution that
        started after this window was opened."""
        spark = self.spark
        drain(spark)
        jobs = [j for j in _get(spark, "jobs") if j["jobId"] > self.job]
        stages = [
            s
            for s in _get(spark, "stages?status=complete")
            if s["stageId"] > self.stage
        ]
        intervals = sorted(
            (_ts(j["submissionTime"]), _ts(j["completionTime"]))
            for j in jobs
            if j.get("submissionTime") and j.get("completionTime")
        )
        job_sum = sum(b - a for a, b in intervals)
        union = 0.0
        cur_a = cur_b = None
        for a, b in intervals:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    union += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            union += cur_b - cur_a
        skews = []
        for s in stages:
            if s["numCompleteTasks"] < 2:
                continue
            summary = _get(
                spark,
                f"stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0",
            )
            med, top = summary["executorRunTime"]
            skews.append(top / med if med > 0 else 1.0)
        sent, returned = self._python_bytes()
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.job_wall_s": union,
            "driver.gap_s": max(0.0, pass_wall_s - union),
            "spark.job_concurrency": job_sum / union if union > 0 else 0.0,
            "spark.task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.stage_skew_p90": _p90(skews),
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ),
            "spark.output_bytes": sum(s["outputBytes"] for s in stages),
            "python.bytes_sent": sent,
            "python.bytes_returned": returned,
        }

    def _python_bytes(self) -> tuple[int, int]:
        """Sum the Python-worker data metrics that Spark's SQL nodes
        (MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas, ...)
        report for executions after the window."""
        sent = returned = 0
        execs = _get(
            self.spark,
            f"sql?details=true&planDescription=false&offset={self.sql_seen}"
            "&length=1000000",
        )
        for e in execs:
            if e["id"] <= self.sql:
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == PYTHON_SENT:
                        sent += _size(m["value"])
                    elif m["name"] == PYTHON_RETURNED:
                        returned += _size(m["value"])
        return sent, returned


def _size(text: str) -> int:
    """Total of a size-typed SQL metric. Multi-task metrics render as
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the first size
    on the last line is the total."""
    line = text.strip().splitlines()[-1]
    m = _SIZE_RE.search(line)
    if m is None:
        return 0
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)])


def _p90(values: list[float]) -> float:
    if not values:
        return 1.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def plan_stats(df) -> tuple[float, int]:
    """Catalyst time (analysis + optimization + planning, ms) and node
    count of the optimized logical plan of a returned DataFrame. Forces
    physical planning, which the caller does anyway before collecting."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    ms = 0.0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            ms += opt.get().durationMs()
    return ms, _count_nodes(qe.optimizedPlan())


def _count_nodes(plan) -> int:
    n = 0
    todo = [plan]
    while todo:
        node = todo.pop()
        n += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return n

"""Physical-plan lock-file: structural snapshots per query.

`tools/plan_audit.py` catches rule VIOLATIONS (cartesian products,
global windows, row-UDFs); this tool catches structural DRIFT — a
join that silently stops broadcasting, an extra Exchange appearing in
a narrow pipeline — by recording, per query, the multiset of physical
operator names in its plan and diffing future plans against it.

    python tools/plan_snapshot.py --update   # regenerate the lock
    python tools/plan_snapshot.py            # check against the lock

`tests/test_plan_snapshots.py` runs the check in CI form. Only
plan-construction-cheap queries are locked (building an ML query's
plan executes its driver-side fit); the EXCLUDE set lists the rest.

Node-name extraction keeps exchange/join/generate/window-level
operators and drops cosmetic nodes (Project/Filter counts shift with
harmless expression refactors; WholeStageCodegen spans shift with
codegen id allocation). File scans are counted as ``FileScan`` on the
JVM plan tree, not from the printed plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "plan_snapshots.json",
)

# Full-registry coverage (VERDICT r2 item 8): every query is locked,
# including the ML/experiment ones whose plan CONSTRUCTION runs the
# driver-side fit (their final plan is a LocalTableScan of the fitted
# result — the lock still pins that the estimation stayed driver-side
# and no stray distributed stage appeared, and new queries always
# land locked). The build cost is one fit per query at sf0.01.
EXCLUDE_PREFIXES = ()
EXCLUDE: set[str] = set()

# structural operators worth locking; everything else is cosmetic
KEEP = re.compile(
    r"^(Exchange|BroadcastExchange|ShuffleQueryStage|BroadcastQueryStage|"
    r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|"
    r"CartesianProduct|HashAggregate|SortAggregate|ObjectHashAggregate|"
    r"Window|WindowGroupLimit|Generate|Expand|Sort|TakeOrderedAndProject|"
    r"GlobalLimit|LocalLimit|FlatMapGroupsInPandas|MapInPandas|"
    r"FlatMapCoGroupsInPandas|ArrowEvalPython|BatchEvalPython|"
    # InMemoryTableScan excluded: the staged shared frames
    # (queries._daily_events, queries._quarterly_pair) make its
    # presence depend on clearCache timing relative to their
    # registration, not on the query's structure
    r"Union|Intersect|Except)"
)


def _file_scans(plan) -> int:
    """``FileSourceScanExec`` nodes of a physical plan, counted on the
    JVM tree (AQE's input plan and subquery plans included). Spark 4
    prints such a node as ``Scan parquet``, which the node-name regex
    reads as ``Scan``; ``Scan ExistingRDD`` and ``LocalTableScan`` are
    other node classes and stay uncounted."""
    def seq(s):
        return [s.apply(i) for i in range(s.length())]

    kids = seq(plan.children()) + seq(plan.subqueries())
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids.append(plan.inputPlan())
    return (name == "FileSourceScanExec") + sum(_file_scans(k) for k in kids)


def plan_signature(df) -> dict[str, int]:
    qe = df._jdf.queryExecution()
    plan = qe.explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    nodes = re.findall(r"^\s*[*+:\-\s]*\(\d+\)\s+([A-Za-z]+)", plan, re.M)
    c = Counter(n for n in nodes if KEEP.match(n))
    c["FileScan"] = _file_scans(qe.executedPlan())
    return dict(sorted((k, v) for k, v in c.items() if v))


def lockable(name: str) -> bool:
    return not name.startswith(EXCLUDE_PREFIXES) and name not in EXCLUDE


def build_signatures(sf_dir: str) -> dict[str, dict[str, int]]:
    import os as _os

    from var_elasticnet_bigdata_spark import queries as Q
    from var_elasticnet_bigdata_spark.session import get_spark

    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    # signatures are the CANONICAL UNCACHED plan shapes: staged-frame
    # persists (plans/cachereg.py) are disabled for the build, and the
    # cache is cleared per query — CacheManager substitution would
    # otherwise hide a staged subtree's Exchange/Sort/Window inside an
    # InMemoryTableScan depending on registration order, making the
    # signature depend on which tests ran first rather than on the
    # query's structure
    prev = _os.environ.get("SPARK_GRAFT_NO_STAGED_CACHE")
    _os.environ["SPARK_GRAFT_NO_STAGED_CACHE"] = "1"
    try:
        for name, fn in sorted(Q.QUERIES.items()):
            if not lockable(name):
                continue
            spark.catalog.clearCache()
            out[name] = plan_signature(fn(spark, sf_dir))
    finally:
        if prev is None:
            _os.environ.pop("SPARK_GRAFT_NO_STAGED_CACHE", None)
        else:
            _os.environ["SPARK_GRAFT_NO_STAGED_CACHE"] = prev
    return out


def main() -> None:
    sf_dir = "/root/testdata/sf0.01"
    update = "--update" in sys.argv
    sigs = build_signatures(sf_dir)
    if update:
        with open(SNAPSHOT_PATH, "w") as f:
            json.dump(sigs, f, indent=1, sort_keys=True)
        print(f"locked {len(sigs)} query plans -> {SNAPSHOT_PATH}")
        return
    locked = json.load(open(SNAPSHOT_PATH))
    bad = 0
    for name, sig in sigs.items():
        want = locked.get(name)
        if want is None:
            print(f"NEW  {name}: not in lock (run --update)")
            continue
        if sig != want:
            bad += 1
            diff = {
                k: (want.get(k, 0), sig.get(k, 0))
                for k in sorted(set(want) | set(sig))
                if want.get(k, 0) != sig.get(k, 0)
            }
            print(f"DRIFT {name}: {diff}")
        else:
            print(f"OK   {name}")
    print(f"\n{bad} plan drifts")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

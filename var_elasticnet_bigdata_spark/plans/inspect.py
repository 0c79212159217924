"""Physical-plan inspection helpers.

The 100 TB-readiness contract is checked on the PLAN, not just the
results: filters must reach the parquet scan (PushedFilters),
projections must narrow ReadSchema, dimension joins must broadcast,
and expression pipelines must fuse into WholeStageCodegen spans.
These helpers parse `.explain("formatted")` output so tests (and the
bench) can assert those properties instead of eyeballing them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists of each scan's ReadSchema (pruning evidence)."""
    text = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of fused codegen subtrees (codegen-mode explain — the
    formatted mode hides the markers under AQE until execution)."""
    text = explain_str(df, mode="codegen")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    if m:
        return int(m.group(1))
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", text)))


def assert_scan_pruned(
    df: DataFrame, table_cols: int, max_read_cols: int
) -> None:
    """Raise if any scan reads more columns than expected — the
    '2-column projection reading all columns' failure mode."""
    schemas = read_schema_columns(df)
    if not schemas:
        raise AssertionError("no parquet scans found in plan")
    widest = max(len(s) for s in schemas)
    if widest > max_read_cols:
        raise AssertionError(
            f"scan reads {widest} columns (> {max_read_cols}) of {table_cols}: "
            f"column pruning failed; schemas={schemas}"
        )


def _plan_children(node) -> list:
    """A physical node's children, looking through AQE wrappers, query
    stages and cached relations so a walk sees the whole plan."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "InMemoryTableScan":
        return [node.relation().cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _node_label(node) -> str:
    """``nodeName``; a hash-partitioned exchange also names its keys
    and partition count: ``Exchange hashpartitioning(doc_id, 8)``."""
    name = node.nodeName()
    if name == "Exchange":
        p = node.outputPartitioning()
        if p.getClass().getSimpleName() == "HashPartitioning":
            exprs = p.expressions()
            keys = ", ".join(exprs.apply(i).sql() for i in range(exprs.size()))
            return f"{name} hashpartitioning({keys}, {p.numPartitions()})"
    return name


def scan_ancestors(df: DataFrame, table_pattern: str) -> list[list[str]]:
    """For every FileScan whose root path (a parquet file, or a catalog
    table's directory) matches ``table_pattern`` (regex), the labels
    (``_node_label``) of its ancestors, nearest first. Walks the plan
    tree itself — no plan-string parsing — so it sees every Union
    branch and every cached subtree. Lets tests assert
    shuffle-elimination precisely: "no Exchange between the bucketed
    store scan and its join" rather than "no Exchange anywhere" (the
    other join side legitimately shuffles)."""
    out: list[list[str]] = []

    def walk(node, path: list[str]) -> None:
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            if any(
                re.search(table_pattern, roots.apply(i).toString())
                for i in range(roots.size())
            ):
                out.append(path[::-1])
        label = _node_label(node)
        for child in _plan_children(node):
            walk(child, path + [label])

    walk(df._jdf.queryExecution().executedPlan(), [])
    return out


def scan_ancestry(df: DataFrame, table_pattern: str) -> list[str]:
    """``scan_ancestors`` of the first matching scan (plan pre-order)."""
    found = scan_ancestors(df, table_pattern)
    if not found:
        raise AssertionError(f"no scan matches {table_pattern!r}")
    return found[0]

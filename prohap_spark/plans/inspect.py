"""Physical-plan inspection utilities (SURVEY §4 discipline: every
operator's plan is checked for scan-level pushdown, column pruning,
broadcast choice, and whole-stage codegen coverage — the properties
that decide whether a query survives a 100× scale-up).

Used by tests/test_plans.py to pin plan shapes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (pruning check)."""
    plan = formatted_plan(df)
    res = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        res.append(cols)
    return res


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen span ids in the physical plan.
    Spark 4 renders codegen as '*(n)' operator prefixes (the literal
    'WholeStageCodegen (n)' wrapper only appears in explain('codegen')
    subtree headers), so both spellings are counted. NOTE: under AQE
    the PRE-execution plan may hide spans inside AdaptiveSparkPlan —
    plan-shape properties (pushdown, pruning, join strategy, exchange
    count) are the reliable pre-execution signals; for a definitive
    count, materialize the frame first and call this on the same
    DataFrame (its queryExecution then holds the final plan)."""
    plan = _executed_plan_string(df)
    spans = set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    spans |= set(re.findall(r"\*\((\d+)\)", plan))
    return len(spans)


def _executed_plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_nodes(df: DataFrame) -> list[str]:
    """Physical node names, one per operator (parsed from the detail
    headers '(n) NodeName' — the tree section would double-count)."""
    plan = formatted_plan(df)
    return [m.strip() for m in re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.M)]


def scans_per_file(df: DataFrame) -> dict[str, int]:
    """How many times each input file/directory is scanned in the
    EXECUTED plan — the multiplied-subplan detector (the triangle
    count's edge build once appeared six times; Spark re-executes unshared
    subplans, so any count >= 3 of one file deserves a look). Counts
    are invisible past a localCheckpoint boundary — audit with
    share_scan=False to see a shared operator's full lineage."""
    plan = _executed_plan_string(df)
    out: dict[str, int] = {}
    for m in re.findall(r"InMemoryFileIndex[^\[]*\[([^\]]+)\]", plan):
        key = m.split("/")[-1]
        out[key] = out.get(key, 0) + 1
    return out


def plan_report(df: DataFrame, name: str = "") -> dict:
    nodes = plan_nodes(df)
    count = lambda s: sum(1 for n in nodes if n == s)  # noqa: E731
    return {
        "name": name,
        "pushed_filters": pushed_filters(df),
        "scan_columns": read_schema_columns(df),
        "scans_per_file": scans_per_file(df),
        "broadcast_joins": count("BroadcastHashJoin"),
        "sortmerge_joins": count("SortMergeJoin"),
        "shuffledhash_joins": count("ShuffledHashJoin"),
        "bnl_joins": count("BroadcastNestedLoopJoin"),
        "exchanges": count("Exchange"),
        "codegen_stages": codegen_stage_count(df),
        "python_stages": count("ArrowEvalPython")
        + count("MapInPandas")
        + count("FlatMapGroupsInPandas")
        + count("BatchEvalPython"),
    }

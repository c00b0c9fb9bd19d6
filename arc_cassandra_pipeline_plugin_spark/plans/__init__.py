"""Physical-plan introspection: the ".explain and iterate" loop as code.

At 100 TB the plan *is* the performance: these helpers let tests assert the
plans we want — filters pushed to the parquet scan, pruned read schemas,
broadcast joins where intended, top-k compiling to TakeOrderedAndProject,
no accidental cartesian products."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    text = explain_str(df, "formatted")
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schemas(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each parquet scan (pruning check)."""
    text = explain_str(df, "formatted")
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        out.append(cols)
    return out


def has_node(df: DataFrame, node: str) -> bool:
    return node in explain_str(df, "simple")


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, (
        "plan contains a cartesian/nested-loop join:\n" + plan
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — wider/fewer is better.
    Uses the 'codegen' explain mode (AQE's pre-execution 'simple' plan
    hides codegen boundaries)."""
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", explain_str(df, "codegen"))
    return int(m.group(1)) if m else 0

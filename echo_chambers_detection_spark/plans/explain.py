"""Physical-plan inspection helpers (SURVEY.md §4).

The reference has no optimizer of its own — all planning happens in its
backend engines. In this engine the optimizer IS Catalyst, so "is the
plan right" becomes a testable property: filters reach the parquet scan,
projections prune columns, small dims broadcast, expressions stay inside
whole-stage codegen, and nothing falls back to row-at-a-time Python.

tests/test_plans.py pins these properties for the headline queries so a
regression (a filter that stops pushing, a UDF that sneaks in) fails CI
rather than silently costing 10x at scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The plan string `.explain('formatted')` would print."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every parquet scan in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema entries (the columns each scan actually reads)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: (\S+)", plan)]


def count_operator(df: DataFrame, op: str) -> int:
    """Occurrences of a physical operator (e.g. 'BroadcastHashJoin',
    'SortMergeJoin', 'TakeOrderedAndProject', 'Exchange')."""
    return len(re.findall(re.escape(op), formatted_plan(df)))


def has_python_stage(df: DataFrame) -> bool:
    """True if the plan contains any row-at-a-time or batched Python
    evaluation (BatchEvalPython / ArrowEvalPython / mapInPandas stages)."""
    plan = formatted_plan(df)
    return bool(re.search(r"BatchEvalPython|ArrowEvalPython|PythonUDF", plan))

"""Physical-plan inspection: the ".explain and iterate" tooling.

Every operator in this engine is held to plan-level expectations —
filters reach the parquet scan, column pruning reaches ReadSchema,
small dimensions broadcast, shuffles don't multiply. These helpers
extract those facts from the formatted plan so tests can assert them
(tests/test_plans.py) instead of relying on eyeballing.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jqe.explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema strings of every file scan (column pruning check)."""
    return re.findall(r"ReadSchema: (\S+)", formatted_plan(df))


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count: ``(n) Exchange`` operators in the formatted plan
    (broadcast exchanges and reuses excluded)."""
    return len(re.findall(r"\(\d+\) Exchange\b", formatted_plan(df)))


def count_broadcast_joins(df: DataFrame) -> int:
    return len(re.findall(r"\(\d+\) BroadcastHashJoin", formatted_plan(df)))


def final_plan(df: DataFrame) -> str:
    """Post-execution physical plan (AQE-final): runs the query once
    through its OWN QueryExecution (collect — a write would spawn a
    separate plan object and leave this one un-finalized), then returns
    the executed plan with codegen spans and AQE decisions. Test-scale
    data only."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Whether the hot path runs inside whole-stage codegen (checked on
    the executed plan — AQE hides codegen spans pre-execution; spans
    print as ``*(n)`` stage markers)."""
    plan = final_plan(df)
    return "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan) is not None

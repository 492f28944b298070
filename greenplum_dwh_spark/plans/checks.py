"""Physical-plan inspection helpers — the ``.explain`` discipline as
code. Tests assert the plan *shape* we designed for (broadcast joins
for dims, filter/partition pushdown into parquet scans, whole-stage
codegen coverage), so a regression that silently degrades the plan
(e.g. a broadcast falling back to sort-merge) fails CI instead of only
showing up at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (physical) plan as text, AQE-resolved where possible."""
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """Concatenated PushedFilters clauses of all parquet scans."""
    return "\n".join(line.strip()
                     for line in physical_plan(df).splitlines()
                     if "PushedFilters" in line)


def partition_filters(df: DataFrame) -> str:
    return "\n".join(line.strip()
                     for line in physical_plan(df).splitlines()
                     if "PartitionFilters" in line)


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen stages in the physical plan.

    The plan string renders codegen membership as a ``*(id)`` operator
    prefix (e.g. ``*(3) HashAggregate``), so count distinct ids."""
    import re
    plan = physical_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    return len(ids) or plan.count("WholeStageCodegen")


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (broadcast exchanges excluded — those move dimension-sized data).
    The scale discipline in one number: every unneeded exchange is a
    full re-shuffle of the data at 100 TB."""
    return sum(1 for line in physical_plan(df).splitlines()
               if "Exchange hashpartitioning" in line
               or "Exchange rangepartitioning" in line
               or "Exchange RoundRobinPartitioning" in line)


def has_python_udf(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan

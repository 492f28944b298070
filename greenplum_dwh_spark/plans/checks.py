"""Physical-plan inspection helpers — the ``.explain`` discipline as
code. Tests assert the plan *shape* we designed for (broadcast joins
for dims, filter/partition pushdown into parquet scans, whole-stage
codegen coverage), so a regression that silently degrades the plan
(e.g. a broadcast falling back to sort-merge) fails CI instead of only
showing up at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: (pattern, replacement) pairs that take out of a plan's text what
#: changes from run to run of one plan: expression ids, exchange plan
#: ids, query-stage and codegen-stage numbers, CollectMetrics UUIDs.
#: A metadata field Spark cut short (``DataFilters: [...]...``) is cut
#: at a length that counts the ids' digits, so it is dropped whole.
_RUN_IDS = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(QueryStage|ReusedExchange|Reused) \d+"), r"\1"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"(\w+): (?:(?!, \w+: ).)*?\.\.\.(?=, \w+: |$)",
                re.M), r"\1: ..."),
)


def physical_plan(df: DataFrame) -> str:
    """Executed (physical) plan as text, AQE-resolved where possible."""
    return df._jdf.queryExecution().executedPlan().toString()


def normalize_plan(text: str) -> str:
    """Plan text with the per-run ids taken out (:data:`_RUN_IDS`), so
    two runs of one plan read the same text and two plans differ only
    where their operators do."""
    for pattern, repl in _RUN_IDS:
        text = pattern.sub(repl, text)
    return text


def executed_plan_text(df: DataFrame) -> str:
    """:func:`normalize_plan` of the plan a run of ``df`` executed,
    with the build plans of the caches it read; call after an action
    on ``df`` itself, so AQE's plan is final."""
    return normalize_plan(physical_plan(df))


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

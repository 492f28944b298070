"""``add_report_data`` — the fn_add_report_data(scd_type) port
(Data_mart.sql:109-298) plus the report visualization pivot
(plot_report.py).

Order of appends mirrors the reference: rules 1–2 UNION ALL rule 3 as
one insert (Data_mart.sql:260-293), then the rule-4 chain detector
(PERFORM fn_find_summ_frauds(), Data_mart.sql:295). ``run_ts`` is
injected instead of ``current_timestamp`` so runs are deterministic
(SURVEY.md §7 M3); pass None for wall-clock behavior.

The staging DataFrame is cached once and shared by all four rules —
the Spark analogue of the reference's temp-table reuse + its
"using with to prevent unnecessary recomputing" comment
(Data_mart.sql:20-21). The rules' output is persisted too, so the
row count and the report append compute it once.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from greenplum_dwh_spark.mart.chains import detect_amount_guessing
from greenplum_dwh_spark.mart.rules import rule_city_hop, rules_expired
from greenplum_dwh_spark.mart.staging import mart_staging


def add_report_data(wh, scd_type: str,
                    run_ts: dt.datetime | None = None) -> int:
    """Append all detected fraud events to the report; returns #rows."""
    if run_ts is None:
        # naive-UTC wall clock (utcnow() is deprecated in 3.12)
        run_ts = dt.datetime.now(dt.UTC).replace(tzinfo=None)
    stg = mart_staging(wh, scd_type)
    if stg is None:
        return 0
    stg = stg.cache()
    try:
        set_based = (rules_expired(stg, run_ts)
                     .unionByName(rule_city_hop(stg, run_ts)))
        chains = detect_amount_guessing(stg, run_ts)
        # Memory cost, measured on the daily_mart benchmark (4 cores,
        # 4 shuffle partitions): peak RSS +~360 MB, all of it Python
        # workers. Spark keeps a cached plan's output partitioning
        # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # is false), so AQE does not coalesce the chains shuffle here:
        # its applyInPandas runs one task per shuffle partition, each
        # in its own pandas-loaded worker (~120 MB), instead of one.
        batch = set_based.unionByName(chains).persist()
        try:
            n = batch.count()
            if n:
                wh.append("report", batch)
            return n
        finally:
            batch.unpersist()
    finally:
        stg.unpersist()


def report_pivot(report: DataFrame) -> DataFrame:
    """Fraud counts by (day, type) — the plot_report.py:16 pivot."""
    return (report
            .select(F.to_date("fraud_dt").alias("fraud_date"), "fraud_type")
            .groupBy("fraud_date").pivot("fraud_type").count()
            .orderBy("fraud_date"))


def plot_report(report: DataFrame, out_path: str) -> str | None:
    """Bar chart of the pivot (plot_report.py:16-20). Matplotlib is
    optional in this environment; returns the path or None if absent."""
    try:
        import matplotlib
        matplotlib.use("Agg")
    except ImportError:
        return None
    pdf = report_pivot(report).toPandas().set_index("fraud_date")
    ax = pdf.plot.bar()
    ax.figure.savefig(out_path, bbox_inches="tight")
    return out_path

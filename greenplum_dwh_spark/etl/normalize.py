"""``normalize_transactions`` — the fn_normalize_transactions() port
(ETL.sql:1-450).

Pipeline per batch: landing → (4× SCD2 staging+apply) → fact append →
(4× SCD1 staging+apply) → truncate landing (ETL.sql:447).

Scale notes:
- the landing batch is read once and cached; every staging derivation is
  a map-side-combinable groupBy on it (8 aggregations share the scan).
- the four dims of a phase are independent tables, so each phase merges
  them concurrently, one driver thread per dim
  (``session.run_concurrently``): a dim merge on a small batch is a few
  short jobs, so a sequential phase leaves most cores idle.  Each phase
  is a barrier — every dim of the phase has committed or failed before
  the next step starts — so the fact append runs only after all four
  SCD2 merges committed, and the SCD1 phase only after the append.  A
  failed merge is re-raised once its phase has ended (the first failure
  in ``schemas.DIMENSIONS`` order); the other dims of that phase keep
  their commits, and the landing batch is not truncated.  A rerun of
  the same batch re-applies it: the SCD merges are idempotent, the fact
  append is not (see the double-load note below).
- the fact append is a pure projection (no shuffle) written
  ``partitionBy(day)`` — at 100 TB this is the only big write and it is
  append-only, embarrassingly parallel.
- dim rewrites shuffle only dim-sized data; the staged side of every
  join is broadcast.
- a dim whose batch changes nothing is skipped by a call-site probe
  (``scd2_changes(...).isEmpty()`` / ``scd1_is_noop``) and never
  reaches the store; a changed dim's commit fingerprints only the new
  dim — the committed side's fingerprints come from its manifest.
- the returned dim counts are manifest sums (``Warehouse.row_count``),
  not ``count()`` jobs, and opening a dim starts no job: the store
  reads it under its stored schema.
- re-running without a new landing batch double-loads the fact, exactly
  like the reference (no dedup at ETL.sql:121-130); the landing truncate
  is what makes the pipeline idempotent-ish (SURVEY.md §2.11.7).
"""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from greenplum_dwh_spark import schemas
from greenplum_dwh_spark.etl import scd1, scd2, staging
from greenplum_dwh_spark.session import run_concurrently
from greenplum_dwh_spark.tablestore import with_day_partition


def _merge_scd2(wh, landing, meta) -> None:
    """Apply the batch to one SCD2 hist dim (ETL.sql:11-237)."""
    staged = staging.scd2_staging(landing, meta)
    dim = wh.read(meta["hist"])
    attr_cols = [dst for _, dst in meta["attrs"]]
    # steady-state short-circuit: a batch with no new attribute
    # tuples is a semantic no-op (close-out + insert both act only
    # on `changes`) — skip the copy-on-write rewrite entirely. The
    # emptiness probe is a dim-sized anti-join, orders cheaper than
    # rewriting the dim at scale.
    if not scd2.scd2_changes(staged, dim, attr_cols).isEmpty():
        wh.overwrite_dim(meta["hist"],
                         scd2.scd2_apply(dim, staged, meta["key"],
                                         attr_cols))


def _merge_scd1(wh, landing, name, meta) -> None:
    """Apply the batch to one SCD1 dim (ETL.sql:243-445)."""
    staged = staging.scd1_staging(landing, meta)
    dim = wh.read(meta["scd1"])
    if not scd1.scd1_is_noop(dim, staged, meta["key"],
                             scd1.UPDATE_ATTRS[name]):
        wh.overwrite_dim(meta["scd1"],
                         scd1.scd1_apply(dim, staged, meta["key"],
                                         scd1.UPDATE_ATTRS[name]))


def normalize_transactions(wh) -> dict:
    """Run the full normalize step; returns per-table row counts."""
    landing = wh.read("landing").cache()
    counts = {"landing": landing.count()}
    if counts["landing"] == 0:
        landing.unpersist()
        return counts
    dims = schemas.DIMENSIONS

    # ---- SCD2 (ETL.sql:11-237) --------------------------------------
    run_concurrently(wh.spark, *[
        functools.partial(_merge_scd2, wh, landing, meta)
        for meta in dims.values()])
    for meta in dims.values():
        counts[meta["hist"]] = wh.row_count(meta["hist"])

    # ---- fact append (ETL.sql:121-130) ------------------------------
    fact = landing.select(
        "trans_id", "trans_date", "card_num", "oper_type",
        F.col("amount").alias("amt"), "oper_result", "terminal")
    # cluster rows within each task by card_num before the partitioned
    # write — parquet row-group min/max stats then prune per-card scans
    # (the z-order-lite analogue of SURVEY.md §4's clustering note)
    wh.append("fact_transactions",
              with_day_partition(fact)
              .sortWithinPartitions("trans_dt_day", "card_num"))
    counts["fact_appended"] = counts["landing"]

    # ---- SCD1 (ETL.sql:243-445) -------------------------------------
    run_concurrently(wh.spark, *[
        functools.partial(_merge_scd1, wh, landing, name, meta)
        for name, meta in dims.items()])
    for meta in dims.values():
        counts[meta["scd1"]] = wh.row_count(meta["scd1"])

    # ---- truncate landing (ETL.sql:447) -----------------------------
    landing.unpersist()
    wh.truncate("landing")
    return counts

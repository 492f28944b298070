"""``normalize_transactions`` — the fn_normalize_transactions() port
(ETL.sql:1-450).

Pipeline per batch: landing → (4× SCD2 staging+apply) → fact append →
(4× SCD1 staging+apply) → truncate landing (ETL.sql:447).

Scale notes:
- the landing batch is read once and cached; every staging derivation is
  a map-side-combinable groupBy on it (8 aggregations share the scan).
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

from pyspark.sql import functions as F

from greenplum_dwh_spark import schemas
from greenplum_dwh_spark.etl import scd1, scd2, staging
from greenplum_dwh_spark.tablestore import with_day_partition


def normalize_transactions(wh) -> dict:
    """Run the full normalize step; returns per-table row counts."""
    landing = wh.read("landing").cache()
    counts = {"landing": landing.count()}
    if counts["landing"] == 0:
        landing.unpersist()
        return counts

    # ---- SCD2 (ETL.sql:11-237) --------------------------------------
    for name, meta in schemas.DIMENSIONS.items():
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
    for name, meta in schemas.DIMENSIONS.items():
        staged = staging.scd1_staging(landing, meta)
        dim = wh.read(meta["scd1"])
        if not scd1.scd1_is_noop(dim, staged, meta["key"],
                                 scd1.UPDATE_ATTRS[name]):
            wh.overwrite_dim(meta["scd1"],
                             scd1.scd1_apply(dim, staged, meta["key"],
                                             scd1.UPDATE_ATTRS[name]))
        counts[meta["scd1"]] = wh.row_count(meta["scd1"])

    # ---- truncate landing (ETL.sql:447) -----------------------------
    landing.unpersist()
    wh.truncate("landing")
    return counts

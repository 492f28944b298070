"""End-to-end streaming fraud mart: landing file stream → stateless
expired rules → parquet report sink with checkpointing.

This is the production wiring of the pieces in mart_stream.py — a
continuously running variant of the reference's daily
load→normalize→mart cadence. The rules run inside ``foreachBatch`` so
each micro-batch

- re-resolves the CURRENT dimension versions through the mart
  staging's ``current_dims(wh)``, called per batch: SCD rewrites
  committed by the batch ETL between triggers are picked up, and the
  vacuum in ``TableStore.overwrite_versioned`` (which removes
  directories older than v-1) can never strand a long-running stream
  on a deleted version directory;
- applies the reference's last-day restriction for rules 1–2
  (``trans_date >= day_start(max(trans_date))`` per batch,
  Data_mart.sql:271-272) — with one landing file per trigger a batch is
  one daily extract, so the per-batch max reproduces the batch mart's
  scope exactly;
- writes its output to a ``batch_id=N`` keyed directory with
  ``overwrite`` mode, the standard idempotent-foreachBatch pattern: a
  crash-replayed batch overwrites its own directory instead of
  duplicating rows, preserving exactly-once file output.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame

from greenplum_dwh_spark.mart.staging import current_dims
from greenplum_dwh_spark.sources.landing import last_day_filter
from greenplum_dwh_spark.streaming.mart_stream import (stream_expired_rules,
                                                       stream_landing)


def run_streaming_mart(wh, landing_dir: str, out_dir: str,
                       run_ts: dt.datetime | None = None,
                       available_now: bool = True,
                       last_day_only: bool = True):
    """Start (and, with available_now, drain) the streaming mart.

    Returns the StreamingQuery; with ``available_now`` the call blocks
    until all currently-available landing files are processed — the
    trigger discipline matching the reference's batch-per-day loads.
    ``last_day_only`` mirrors Data_mart.sql:271-272 per micro-batch
    (set False to scan whole multi-day files, a deliberate divergence).
    """
    if run_ts is None:
        # naive-UTC wall clock (utcnow() is deprecated in 3.12)
        run_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    ts = run_ts
    stream = stream_landing(wh.spark, landing_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scoped = last_day_filter(batch_df) if last_day_only else batch_df
        out = stream_expired_rules(scoped, current_dims(wh), ts)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}"))

    writer = (stream.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation",
                      os.path.join(out_dir, "_checkpoint"))
              .outputMode("append"))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    return q

"""Fraud rule 4 — amount-guessing chain detector
(``fn_find_summ_frauds``, Data_mart.sql:2-106).

The reference pulls every staged row to the Greenplum master through a
cursor ordered by (client, fraud_dt) and runs a single-threaded state
machine (the one place it abandons parallelism, SURVEY.md §3.3). The
state never survives a client change (reset transitions at
Data_mart.sql:65-73, plus the zero_on_prev start branches), so the
machine is per-client-parallelizable: we run it with
``groupBy(client).applyInPandas`` — Arrow-batched, one Python worker
per client group, linear scale-out, bounded state per key.

Semantics preserved exactly:

- input = staged rows with ``trans_date >= day_start(max(trans_date))
  − interval '20 minute'`` ("take 20 min from previous day",
  Data_mart.sql:33-34); lag diffs are computed *after* this filter.
- ``amount_diff = coalesce(amount − lag(amount), −1)``
  (Data_mart.sql:30).
- ``sec_diff`` = hour*3600 + min*60 + sec of the interval
  (Data_mart.sql:45) — the interval's *day component is excluded*
  (Postgres field extraction), i.e. Δsec mod 86400.
- transitions (Data_mart.sql:49-97): a chain is ≥3 declined ops with
  strictly decreasing amounts, cumulative sec budget < 1200, ended by a
  success, which is the flagged row; success resets; non-decreasing
  amount or blown budget restarts the chain at the current row.

The transitions are written once, as :func:`chain_fold`: the batch rule
folds each client's day from ``CHAIN_START``, the streaming detector
(``streaming.mart_stream``) each micro-batch from ``GroupState``.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from greenplum_dwh_spark import schemas

CHAIN_MIN_DECLINES = 3      # counter >= 3, Data_mart.sql:75
CHAIN_SEC_BUDGET = 1200     # sec_count < 1200 (20 min), Data_mart.sql:75
LOOKBACK_MINUTES = 20       # Data_mart.sql:34

REPORT_SCHEMA = T.StructType([
    T.StructField("fraud_dt", T.TimestampType()),
    T.StructField("passport", T.StringType()),
    T.StructField("fio", T.StringType()),
    T.StructField("phone", T.StringType()),
    T.StructField("fraud_type", T.StringType()),
    T.StructField("report_dt", T.TimestampType()),
])


#: (counter, sec_count, zero_on_prev, prev trans_date, prev amount)
CHAIN_START = (0, 0, False, None, None)


def chain_fold(state: tuple, rows, min_declines: int = CHAIN_MIN_DECLINES,
               sec_budget: int = CHAIN_SEC_BUDGET) -> tuple[tuple, list]:
    """The cursor loop over ONE client's ``itertuples`` rows (trans_date,
    amount, oper_result), sorted by trans_date: ``(state, rows) ->
    (state, flagged rows)``. The state keeps the previous row's exact
    timestamp and decimal amount, so any split of the rows into folds
    flags what one fold flags."""
    counter, sec_count, zero_on_prev, prev_ts, prev_amt = state
    out = []
    for row in rows:
        ts, amt, res = row.trans_date, row.amount, row.oper_result
        if prev_ts is None:
            amount_diff, sec_diff = Decimal(-1), 0
        else:
            amount_diff = amt - prev_amt
            sec_diff = int((ts - prev_ts).total_seconds()) % 86400
        prev_ts, prev_amt = ts, amt

        if zero_on_prev and res == schemas.RESULT_DECLINED:
            counter, zero_on_prev = 1, False          # Data_mart.sql:51-54
        elif zero_on_prev and res == schemas.RESULT_SUCCESS:
            sec_count, counter, zero_on_prev = 0, 0, True   # :56-60
        elif not zero_on_prev:
            sec_count += sec_diff                      # :63
            if (counter >= min_declines
                    and res == schemas.RESULT_SUCCESS
                    and sec_count < sec_budget):        # :75-82
                out.append(row)
                counter, sec_count, zero_on_prev = 0, 0, True
            elif res == schemas.RESULT_SUCCESS:        # :84-87
                counter, sec_count, zero_on_prev = 0, 0, True
            elif amount_diff >= 0 or sec_count >= sec_budget:  # :89-92
                counter, sec_count, zero_on_prev = 1, 0, False
            elif (amount_diff < 0 and sec_count < sec_budget
                  and res == schemas.RESULT_DECLINED):  # :94-96
                counter, zero_on_prev = counter + 1, False
    return (counter, sec_count, zero_on_prev, prev_ts, prev_amt), out


def detect_chains_pd(pdf: pd.DataFrame, run_ts: dt.datetime,
                     min_declines: int = CHAIN_MIN_DECLINES,
                     sec_budget: int = CHAIN_SEC_BUDGET) -> pd.DataFrame:
    """Pure-pandas port of the cursor loop for ONE client's rows.

    ``pdf`` needs columns trans_date, amount, oper_result, passport_num,
    fio, phone. Testable without Spark (SURVEY.md §5). The reference's
    constants (≥3 declines, 1200 s budget) are the defaults; the events
    variant passes corpus-appropriate values.
    """
    pdf = pdf.sort_values("trans_date", kind="mergesort")
    _, hits = chain_fold(CHAIN_START, pdf.itertuples(index=False),
                         min_declines, sec_budget)
    return pd.DataFrame(
        [(r.trans_date, r.passport_num, r.fio, r.phone,
          schemas.FRAUD_AMOUNT_GUESS, run_ts) for r in hits],
        columns=["fraud_dt", "passport", "fio", "phone",
                 "fraud_type", "report_dt"])


def detect_amount_guessing(stg: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """Distributed rule-4 detector over the mart staging DataFrame."""
    from greenplum_dwh_spark.shipping import ensure_shipped
    ensure_shipped(stg.sparkSession)
    mx = stg.agg(F.date_trunc("DAY", F.max("trans_date")).alias("_d"))
    window_start = (F.col("_d")
                    - F.expr(f"INTERVAL {LOOKBACK_MINUTES} MINUTES"))
    scoped = (stg.join(F.broadcast(mx),
                       F.col("trans_date") >= window_start, "inner")
              .select("client", "trans_date", "amount", "oper_result",
                      "passport_num", "fio", "phone"))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return detect_chains_pd(pdf, run_ts)

    return scoped.groupBy("client").applyInPandas(run, REPORT_SCHEMA)

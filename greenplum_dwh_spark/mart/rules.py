"""Set-based fraud rules 1–3 (Data_mart.sql:260-293).

Rule 1 — expired passport: ``trans_date > passport_valid_to``
(Data_mart.sql:266). Rule 2 — expired account: ``trans_date >
valid_to`` (Data_mart.sql:267). Both restricted to the last day only
(``trans_date >= day_start(max(trans_date))``, Data_mart.sql:271-272);
the CASE labels rule 1 first, so a row violating both gets the passport
label. date-vs-timestamp comparison promotes the date to midnight, as
in Postgres (SURVEY.md §2.11.5).

Rule 3 — city hop: consecutive transactions of one client in different
cities with ``date_part('hour', Δ) = 0`` (Data_mart.sql:281-293).
Postgres timestamp subtraction yields a days+hh:mm:ss interval whose
*hour field* we reproduce exactly as ``floor(Δsec/3600) mod 24`` —
including the quirk that a pair ~24h apart has hour field 0. Lag
context includes the 1-hour previous-day lookback rows of the staging.

All three are per-client partitionable → one shuffle by client for the
window, no other wide ops; at 100 TB this scales linearly (client keys
are unskewed — reference data ≤36 txn/client; AQE skew-join would split
a hot key anyway).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from greenplum_dwh_spark import schemas


def _expired_rows(stg: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """The report rows of rules 1–2 over joined transactions: the
    expired passport/account filter and the CASE label (passport
    first).  Shared by the batch mart and the streaming projection,
    each of which brings its own join."""
    passport_expired = (F.col("trans_date")
                        > F.col("passport_valid_to").cast("timestamp"))
    return (stg.filter(passport_expired
                       | (F.col("trans_date")
                          > F.col("valid_to").cast("timestamp")))
            .select(
                F.col("trans_date").alias("fraud_dt"),
                F.col("passport_num").alias("passport"),
                "fio", "phone",
                F.when(passport_expired,
                       F.lit(schemas.FRAUD_EXPIRED_PASSPORT))
                 .otherwise(F.lit(schemas.FRAUD_EXPIRED_ACCOUNT))
                 .alias("fraud_type"),
                F.lit(run_ts).alias("report_dt")))


def rules_expired(stg: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """Rules 1–2 (Data_mart.sql:260-272) on the last day."""
    last_day = (stg.agg(F.date_trunc("DAY", F.max("trans_date"))
                        .alias("_d")))
    return _expired_rows(
        stg.join(F.broadcast(last_day),
                 F.col("trans_date") >= F.col("_d"), "inner"),
        run_ts)


def rule_city_hop(stg: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """Rule 3 (Data_mart.sql:273-293)."""
    w = Window.partitionBy("client").orderBy("trans_date")
    delta_sec = (F.unix_timestamp("trans_date")
                 - F.unix_timestamp(F.lag("trans_date").over(w)))
    hour_field = F.floor(delta_sec / 3600) % 24
    return (stg.select(
                F.col("trans_date").alias("fraud_dt"),
                F.col("passport_num").alias("passport"),
                "fio", "phone",
                F.col("terminal_city"),
                F.lag("terminal_city").over(w).alias("prev_city"),
                hour_field.alias("hour_diff"))
            .filter((F.col("terminal_city") != F.col("prev_city"))
                    & (F.col("hour_diff") == 0))
            .select("fraud_dt", "passport", "fio", "phone",
                    F.lit(schemas.FRAUD_CITY_HOP).alias("fraud_type"),
                    F.lit(run_ts).alias("report_dt")))

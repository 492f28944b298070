"""Mart staging — the ``stg_denormalized_data`` CTAS port
(Data_mart.sql:115-185 scd2 branch, :187-257 scd1 branch).

Re-denormalizes the star schema along the terminal→transaction→card→
account→client path (the entity graph of Data_scheme.png) for the fraud
rules, over the *current* dimension versions:

- SCD2 branch: each hist dim filtered to ``end_dt IS NULL``
  (Data_mart.sql:128,145,152,161);
- SCD1 branch: the dims used as-is (Data_mart.sql:195-233).

The fact side is limited to "last day − 1 hour": ``trans_date >=
day_start(max(trans_date)) − interval '1 hour'``
(Data_mart.sql:138-139; the `to_timestamp(max, 'YYYY-MM-DD 00:00:00')`
format hack is the reference's day-truncation idiom, SURVEY.md §2.11.3).

Scale shape: dims are broadcast (≤ entity cardinality, orders below the
fact) so the 5-way join is 4 broadcast hash joins with zero fact
shuffles. The max-day scalar comes from the **partition column** —
``day_start(max(trans_date)) == max(trans_dt_day)`` — so on a real
cluster it resolves from partition listings/column stats instead of a
full scan, and the threshold literal enables static partition pruning
of the fact read.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from greenplum_dwh_spark.schemas import DIMENSIONS as _DIMS


def fact_max_day(wh) -> dt.datetime | None:
    """day_start(max(trans_date)) from the fact's partition column."""
    row = (wh.read("fact_transactions")
           .agg(F.max("trans_dt_day").alias("d")).first())
    if row is None or row["d"] is None:
        return None
    return dt.datetime.combine(row["d"], dt.time.min)


def current_dims(wh, scd_type: str = "scd2") -> dict[str, DataFrame]:
    """Current-version dim DataFrames, resolved NOW. The stream calls
    this per micro-batch — never cache across batches, because dim
    rewrites vacuum old version directories."""
    if scd_type == "scd2":
        return {n: wh.read(m["hist"]).filter(F.col("end_dt").isNull())
                for n, m in _DIMS.items()}
    return {n: wh.read(m["scd1"]) for n, m in _DIMS.items()}


def project_dims(cur: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """The fraud rules' columns of whichever dims ``cur`` holds."""
    cols = {
        "terminals": ["terminal_id", "terminal_city"],
        "cards": ["card_num", "account_num"],
        "accounts": ["account_num", "valid_to", "client"],
        "clients": ["client_id",
                    F.concat_ws(" ", "last_name", "first_name",
                                "patronymic").alias("fio"),
                    "phone", "passport_valid_to", "passport_num"],
    }
    return {n: df.select(*cols[n]) for n, df in cur.items()}


def mart_staging(wh, scd_type: str) -> DataFrame | None:
    """Build the denormalized mart input for 'scd2' or 'scd1'."""
    if scd_type not in ("scd2", "scd1"):
        raise ValueError(f"scd_type must be scd1|scd2, got {scd_type!r}")
    max_day = fact_max_day(wh)
    if max_day is None:
        return None
    threshold = max_day - dt.timedelta(hours=1)

    fact = wh.read("fact_transactions")
    tx = (fact
          # partition pruning predicate + exact predicate
          .filter(F.col("trans_dt_day") >= F.lit(threshold.date()))
          .filter(F.col("trans_date") >= F.lit(threshold))
          .select("trans_id", "trans_date", "card_num", "amt",
                  "oper_result", "terminal"))

    dims = project_dims(current_dims(wh, scd_type))
    terminals, cards = dims["terminals"], dims["cards"]
    accounts, clients = dims["accounts"], dims["clients"]

    return (tx
            .join(F.broadcast(terminals),
                  tx["terminal"] == terminals["terminal_id"], "inner")
            .join(F.broadcast(cards), "card_num", "inner")
            .join(F.broadcast(accounts), "account_num", "inner")
            .join(F.broadcast(clients),
                  accounts["client"] == clients["client_id"], "inner")
            .select("terminal_city", "trans_id", "trans_date", "card_num",
                    F.col("amt").alias("amount"), "oper_result", "valid_to",
                    "client", "fio", "phone", "passport_valid_to",
                    "passport_num"))

"""Sessionization over the events stream.

Spark-first decision: session assignment IS relational-algebra
expressible (lag gap flag + running sum), so the default operator is
pure window algebra — one shuffle by user, whole-stage codegen, no
Python in the hot path. This replaced an applyInPandas implementation
that spent ~10 ms/group on Arrow+pandas overhead (15 s for 100k events
at sf0.1 vs <1 s for the window plan). The applyInPandas execution
shape for genuinely non-relational per-key state machines is covered by
the fraud chain detector (mart/chains.py, operators/chains_events.py).

``session_fold`` (pure Python, identical semantics) is the kernel of
``sessionize_pd``, used by unit tests, and of the streaming variant
(applyInPandasWithState).

Gap semantics: new session when the per-operand-floored epoch-second
gap exceeds SESSION_GAP_SEC (Spark unix_timestamp == DuckDB
floor(epoch()) == pandas ns//1e9).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from greenplum_dwh_spark.sources.tpch import Tables

SESSION_GAP_SEC = 1800


def sessionize(events: DataFrame) -> DataFrame:
    """Per-user sessions: (user_id, session_id, n_events, start, end)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w)))
    flag = F.when(gap > SESSION_GAP_SEC, 1).otherwise(0)
    return (events
            .select("user_id", "event_id", "ts")
            .withColumn("session_id",
                        (F.sum(flag).over(w_run) + 1).cast("int"))
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("start_ts"),
                 F.max("ts").alias("end_ts")))


#: (session_id, n_events, start_ts, last_ts) of the open session
SESSION_START = (0, 0, None, None)


def session_fold(state: tuple, ts_sorted) -> tuple[tuple, list]:
    """The gap rule over ONE user's event times, sorted by (ts,
    event_id): ``(state, times) -> (state, closed sessions)``, each
    closed session ``(session_id, n_events, start_ts, end_ts)`` with
    exact times."""
    session_id, n_events, start_ts, last_ts = state
    last_sec = (None if last_ts is None
                else pd.Timestamp(last_ts).value // 1_000_000_000)
    closed = []
    for ts in ts_sorted:
        sec = ts.value // 1_000_000_000  # floor epoch sec
        if last_sec is None or sec - last_sec > SESSION_GAP_SEC:
            if session_id:
                closed.append((session_id, n_events, start_ts, last_ts))
            session_id, n_events, start_ts = session_id + 1, 0, ts
        n_events += 1
        last_ts, last_sec = ts, sec
    return (session_id, n_events, start_ts, last_ts), closed


def sessionize_pd(pdf: pd.DataFrame) -> pd.DataFrame:
    """Pure-pandas per-user sessionizer: the fold, then a flush of the
    open session."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    last, closed = session_fold(SESSION_START, pdf["ts"])
    if last[0]:
        closed.append(last)
    out = pd.DataFrame(closed, columns=["session_id", "n_events",
                                        "start_ts", "end_ts"])
    out.insert(0, "user_id", pdf["user_id"].iloc[0] if len(pdf) else None)
    return out.astype({"session_id": "int32"})


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(Tables(spark, sf_dir).events)


def sessionize_native_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` — the engine-native variant
    of :func:`sessionize` (and the operator the *streaming* form would
    use with a watermark, where the window-algebra plan is
    inapplicable because lag/cumsum aren't incremental).

    Boundary semantics differ from the hand-rolled operator and the
    oracle mirrors them exactly: a session extends while the next
    event is STRICTLY before prev_ts + gap (micro-precision timestamp
    arithmetic — not the second-floored epoch gap of
    :func:`sessionize`), and the emitted ``end_ts_excl`` is
    ``last_event + gap`` (exclusive), not the last event time."""
    ev = Tables(spark, sf_dir).events
    return (ev.groupBy("user_id",
                       F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("start_ts"),
                    F.col("w.end").alias("end_ts_excl"), "n_events"))


QUERIES = {"sessionize_events": sessionize_events,
           "sessionize_native_window": sessionize_native_window}

ORACLES = {
    "sessionize_events": f"""
        WITH x AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN floor(epoch(ts))::BIGINT
                           - floor(epoch(lag(ts) OVER w))::BIGINT
                           > {SESSION_GAP_SEC}
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     (sum(new_session) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) + 1)::INT AS session_id
              FROM x)
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts)::TIMESTAMP AS start_ts, max(ts)::TIMESTAMP AS end_ts
        FROM s GROUP BY user_id, session_id""",
    "sessionize_native_window": """
        WITH x AS (
          SELECT user_id, ts,
                 CASE WHEN ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM x)
        SELECT user_id,
               min(ts)::TIMESTAMP AS start_ts,
               (max(ts) + INTERVAL 30 MINUTE)::TIMESTAMP AS end_ts_excl,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid""",
}

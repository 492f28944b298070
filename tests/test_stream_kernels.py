"""Stream ≡ batch for the stateful streaming handlers, without Spark.

``stream_chain_detector`` and ``stream_sessionize`` run their
``applyInPandasWithState`` update functions once per key per
micro-batch, carrying a ``GroupState`` in between. Feeding random
per-key rows with sub-second timestamps, cut into random micro-batches,
through those update functions must give what the batch kernels give
on the whole sequence: rule 4's ``detect_chains_pd`` and the
sessionizer's ``sessionize_pd`` (minus its last, still open session).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from greenplum_dwh_spark.mart.chains import detect_chains_pd
from greenplum_dwh_spark.operators.sessions import sessionize_pd
from greenplum_dwh_spark.schemas import RESULT_DECLINED, RESULT_SUCCESS
from greenplum_dwh_spark.streaming import mart_stream as MS

T0 = dt.datetime(2020, 5, 3, 0, 0, 0)
RUN = dt.datetime(2020, 5, 4)


class FakeGroupState:
    """``exists`` / ``get`` / ``update`` of pyspark's GroupState. The
    value is stored the way Spark stores it between micro-batches: the
    pandas scalars converted as ``GroupState.update`` converts them,
    then through the state schema's internal form and back."""

    def __init__(self, schema):
        self.schema, self._internal = schema, None

    @property
    def exists(self) -> bool:
        return self._internal is not None

    @property
    def get(self) -> tuple:
        return tuple(self.schema.fromInternal(self._internal))

    def update(self, value) -> None:
        value = tuple(v.to_pydatetime() if hasattr(v, "to_pydatetime")
                      else v for v in value)
        self._internal = self.schema.toInternal(value)


def run_stream(update, schema, key_col, rows: pd.DataFrame, cuts) -> list:
    """Feed ``rows`` (in arrival order) through ``update`` as the
    micro-batches ``rows[cuts[i]:cuts[i+1]]``, one call per key per
    batch like Spark; returns every emitted row."""
    states, out = {}, []
    bounds = [0, *sorted(set(cuts)), len(rows)]
    for lo, hi in zip(bounds, bounds[1:]):
        for k, grp in rows.iloc[lo:hi].groupby(key_col, sort=False):
            state = states.setdefault(k, FakeGroupState(schema))
            for pdf in update((k,), iter([grp]), state):
                out.extend(pdf.itertuples(index=False, name=None))
    return out


# --- rule 4 ---------------------------------------------------------------

def stream_chains(rows: pd.DataFrame, cuts) -> list:
    got = run_stream(MS._chain_update, MS._CHAIN_STATE_SCHEMA, "client",
                     rows, cuts)
    return sorted((c, pd.Timestamp(ts)) for c, ts, _ in got)


def batch_chains(rows: pd.DataFrame) -> list:
    return sorted((c, pd.Timestamp(ts))
                  for c, grp in rows.groupby("client")
                  for ts in detect_chains_pd(grp, RUN)["fraud_dt"])


def chain_frame(rows: list) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=["client", "trans_date", "amount",
                                      "oper_result"])
    pdf["trans_date"] = pd.to_datetime(pdf["trans_date"])
    return pdf.assign(passport_num="P", fio="F", phone="+")


@st.composite
def chain_stream(draw):
    rows = []
    for c in range(draw(st.integers(1, 3))):
        t, amt = T0, Decimal("500.00")
        for _ in range(draw(st.integers(0, 12))):
            # gaps of 399.3 to 400.7 s: three of them sum to within a
            # second or two of the 1200 s budget, where exact and
            # floored-second arithmetic part; now and then a gap blows
            # the budget; amounts mostly decrease
            t += dt.timedelta(
                seconds=draw(st.sampled_from([400, 399] * 3 + [1300])),
                milliseconds=draw(st.sampled_from([700, 300])))
            amt += draw(st.sampled_from([-25, -25, -25, 0, 25]))
            rows.append((f"C{c}", t, amt,
                         draw(st.sampled_from([RESULT_DECLINED] * 3
                                              + [RESULT_SUCCESS]))))
    pdf = chain_frame(rows).sort_values("trans_date", kind="mergesort")
    cuts = draw(st.lists(st.integers(0, len(pdf)), max_size=4))
    return pdf.reset_index(drop=True), cuts


@given(chain_stream())
@settings(max_examples=300, deadline=None)
def test_stream_chains_equal_batch_rule(case):
    rows, cuts = case
    assert stream_chains(rows, cuts) == batch_chains(rows)


@pytest.mark.parametrize("cuts", [[], [1], [2], [3]])
def test_stream_chain_sub_second_budget(cuts):
    """Budget 599 + 599 + 0 = 1198 s on the exact times, 1200 s on
    floored epoch seconds: the success is flagged."""
    at = lambda s: T0 + dt.timedelta(seconds=s)  # noqa: E731
    rows = chain_frame([
        ("C1", at(0.5), Decimal("300.00"), RESULT_DECLINED),
        ("C1", at(600.4), Decimal("200.00"), RESULT_DECLINED),
        ("C1", at(1199.9), Decimal("100.00"), RESULT_DECLINED),
        ("C1", at(1200.2), Decimal("50.00"), RESULT_SUCCESS),
    ])
    want = [("C1", pd.Timestamp(at(1200.2)))]
    assert batch_chains(rows) == want
    assert stream_chains(rows, cuts) == want


# --- sessions ---------------------------------------------------------------

def stream_sessions(events: pd.DataFrame, cuts) -> list:
    got = run_stream(MS._session_update, MS._SESSION_STATE_SCHEMA,
                     "user_id", events, cuts)
    return sorted((u, s, n, pd.Timestamp(a), pd.Timestamp(b))
                  for u, s, n, a, b in got)


def batch_closed_sessions(events: pd.DataFrame) -> list:
    out = []
    for _, grp in events.groupby("user_id"):
        sess = sessionize_pd(grp)
        out.extend(sess.iloc[:-1].itertuples(index=False, name=None))
    return sorted((u, s, n, pd.Timestamp(a), pd.Timestamp(b))
                  for u, s, n, a, b in out)


def event_frame(rows: list) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return pdf.sort_values(["ts", "event_id"], kind="mergesort") \
        .reset_index(drop=True)


@st.composite
def event_stream(draw):
    rows, eid = [], 0
    for u in range(draw(st.integers(1, 3))):
        t = T0
        for _ in range(draw(st.integers(0, 12))):
            # gaps straddling the 1800 s session gap, sub-second
            t += dt.timedelta(milliseconds=draw(st.integers(0, 2_400_000)))
            eid += 1
            rows.append((u, eid, t))
    pdf = event_frame(rows)
    cuts = draw(st.lists(st.integers(0, len(pdf)), max_size=4))
    return pdf, cuts


@given(event_stream())
@settings(max_examples=300, deadline=None)
def test_stream_sessions_equal_batch_closed_sessions(case):
    events, cuts = case
    assert stream_sessions(events, cuts) == batch_closed_sessions(events)


@pytest.mark.parametrize("cuts", [[], [1], [2]])
def test_stream_session_keeps_exact_times(cuts):
    """A closed session reports its first and last event times, not
    those times floored to the second."""
    t = lambda h, m, s: dt.datetime(2024, 1, 1, h, m, s, 700_000)  # noqa
    events = event_frame([(1, 1, t(12, 0, 0)), (1, 2, t(12, 5, 0)),
                          (1, 3, t(13, 0, 0))])
    want = [(1, 1, 2, pd.Timestamp(t(12, 0, 0)), pd.Timestamp(t(12, 5, 0)))]
    assert batch_closed_sessions(events) == want
    assert stream_sessions(events, cuts) == want

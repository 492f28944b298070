"""The generator's planted patterns at small scale: the mart reports
exactly the expected rows per fraud type every day, the dimensions hold
exactly the expected versions, and a wrong expectation is counted as a
failed operation."""

from __future__ import annotations

import os

import bankgen
import workloads
from greenplum_dwh_spark import schemas

SMALL = bankgen.BankConfig(
    seed=11, n_clients=140, terminals_per_city=2, active_clients=30,
    hot_clients=2, hot_txns=40, passport_clients=2, account_clients=3,
    hops=3, hop_near_misses=2, chains=2, chain_near_misses=2,
    midnight_chains=2, client_changes=4, terminal_changes=3)


def test_mart_reports_exactly_the_planted_frauds(run):
    from greenplum_dwh_spark.warehouse import Warehouse
    paths = bankgen.write_extracts(run.spark, SMALL,
                                   os.path.join(run.work, "ext"), 3)
    wh = Warehouse(run.spark, os.path.join(run.work, "wh"))
    for day in (0, 1, 2):
        rec = workloads.run_day(run, wh, SMALL, day, paths[day])
        want = bankgen.expected_report(SMALL, day)
        assert rec["report"] == want, (day, rec)
        assert rec["ok"]
    # every rule fires, midnight chains included
    assert want[schemas.FRAUD_AMOUNT_GUESS] == (
        SMALL.chains + SMALL.midnight_chains)
    assert all(want.values())
    dims = {n: workloads.dim_rows(wh.store, n)
            for n in bankgen.expected_dims(SMALL, 2)}
    assert dims == bankgen.expected_dims(SMALL, 2)


def test_expected_counts_depend_on_the_seed_only_through_values(spark):
    a = bankgen.expected_report(SMALL, 1)
    b = bankgen.expected_report(
        bankgen.BankConfig(**{**SMALL.__dict__, "seed": 12}), 1)
    assert a == b
    assert bankgen.expected_report(SMALL, 0)[
        schemas.FRAUD_AMOUNT_GUESS] == SMALL.chains


def test_wrong_expected_count_is_a_failed_operation(run, monkeypatch):
    right = bankgen.expected_report

    def wrong(cfg, day):
        exp = dict(right(cfg, day))
        exp[schemas.FRAUD_CITY_HOP] += 1
        return exp

    monkeypatch.setattr(workloads, "bank_config", lambda seed: SMALL)
    monkeypatch.setattr(bankgen, "expected_report", wrong)
    out = workloads.daily_mart(run, seed=11, seconds=1)
    assert out.attempted == 1
    assert out.failed == 1
    assert out.setup_ok            # dimensions still as expected


def test_check_day_requires_exact_counts_and_total():
    exp = {"a": 2, "b": 0, "c": 1}
    assert workloads.check_day({"a": 2, "c": 1}, 3, exp)
    assert not workloads.check_day({"a": 2, "c": 2}, 4, exp)
    assert not workloads.check_day({"a": 2, "c": 1}, 4, exp)
    assert not workloads.check_day({"a": 2}, 2, exp)

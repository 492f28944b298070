"""``normalize_transactions`` merges the four dims of each SCD phase
concurrently: a failed merge must surface only once its phase has
ended, leave the fact and the landing batch as the phase barrier
promises, and a rerun must converge to a clean run; every Spark job
the concurrent threads start must stay in the caller's job group, and a
thread that sets a job group of its own sets it for itself only."""

from __future__ import annotations

import threading
from collections import Counter

import pytest

from greenplum_dwh_spark import schemas
from greenplum_dwh_spark.etl import normalize_transactions
from greenplum_dwh_spark.session import run_concurrently
from greenplum_dwh_spark.sources import load_landing_file
from greenplum_dwh_spark.warehouse import TABLES, Warehouse
from tests import bank_fixture as bf
from tests.job_groups import job_group

VERSIONED = sorted(n for n, (_, kind) in TABLES.items()
                   if kind == "versioned")
HIST = [m["hist"] for m in schemas.DIMENSIONS.values()]
SCD1 = [m["scd1"] for m in schemas.DIMENSIONS.values()]


class InjectedFault(RuntimeError):
    pass


def _snapshot(wh) -> dict[str, Counter]:
    """Row multiset of every versioned table and of the fact."""
    return {n: Counter(tuple(r) for r in wh.read(n).collect())
            for n in VERSIONED + ["fact_transactions"]}


@pytest.fixture(scope="module")
def day1(spark, tmp_path_factory):
    """Day 1 of the bank fixture (it changes all eight dims): its
    extract, and the warehouse a clean run of it leaves."""
    root = tmp_path_factory.mktemp("phases")
    path = bf.write_extracts(spark, str(root / "ex"))[0]
    wh = Warehouse(spark, str(root / "clean"))
    load_landing_file(wh, path)
    normalize_transactions(wh)
    return path, _snapshot(wh)


@pytest.mark.parametrize("failing", ["dim_cards_hist", "dim_cards"])
def test_failed_merge_waits_for_its_phase_then_rerun_converges(
        spark, tmp_path, day1, failing):
    """A merge that fails is raised after the other three dims of its
    phase committed; the landing batch is kept.  An SCD2 failure comes
    before the fact append, so the fact is untouched and a rerun equals
    a clean run.  An SCD1 failure comes after it, so a rerun equals a
    clean run except that the fact holds the batch twice — the
    reference's double-load (ETL.sql:121-130)."""
    path, clean = day1
    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = load_landing_file(wh, path)
    store = wh.store
    commit = store.overwrite_versioned

    def faulty(name, *args, **kwargs):
        if name == failing:
            raise InjectedFault(name)
        return commit(name, *args, **kwargs)

    store.overwrite_versioned = faulty
    with pytest.raises(InjectedFault, match=failing):
        normalize_transactions(wh)
    del store.overwrite_versioned

    phase = HIST if failing in HIST else SCD1
    versions = {name: store.current_version(name) for name in VERSIONED}
    assert versions[failing] == 0
    for name in phase:
        if name != failing:
            assert versions[name] == 1, name
    if phase is HIST:
        assert {versions[name] for name in SCD1} == {0}
        assert wh.read("fact_transactions").count() == 0
    else:
        assert {versions[name] for name in HIST} == {1}
        assert wh.read("fact_transactions").count() == n
    assert wh.read("landing").count() == n

    normalize_transactions(wh)
    got = _snapshot(wh)
    assert wh.read("landing").count() == 0
    for name in VERSIONED:
        assert got[name] == clean[name], name
    fact = clean["fact_transactions"]
    if phase is SCD1:
        fact = Counter({row: 2 * c for row, c in fact.items()})
    assert got["fact_transactions"] == fact


def test_concurrent_jobs_stay_in_callers_job_group(spark, tmp_path):
    """No job ``Warehouse(...)`` or ``normalize_transactions`` starts
    runs outside the caller's job group, although both start their
    per-table work on threads of their own."""
    sc = spark.sparkContext
    path = bf.write_extracts(spark, str(tmp_path / "ex"))[0]

    def ungrouped() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ungrouped()
    with job_group(spark, "init") as init_jobs:
        wh = Warehouse(spark, str(tmp_path / "wh"))
    with job_group(spark, "load"):
        load_landing_file(wh, path)
    with job_group(spark, "normalize") as etl_jobs:
        normalize_transactions(wh)
    assert ungrouped() - before == set()
    assert init_jobs and etl_jobs


def test_each_thread_sets_its_own_job_group(spark):
    """A thread of ``run_concurrently`` that sets a job group sets it
    for its own jobs only (the benchmark's tracer opens one group per
    store call), and the caller's group is left as it was."""
    sc = spark.sparkContext
    barrier = threading.Barrier(4, timeout=60)
    got = {}

    def thunk(i):
        with job_group(spark, f"thread{i}") as jobs:
            barrier.wait()   # every thread has set its group
            spark.range(1).count()
        got[i] = jobs

    with job_group(spark, "caller") as caller_jobs:
        group = sc.getLocalProperty("spark.jobGroup.id")
        run_concurrently(spark, *[lambda i=i: thunk(i) for i in range(4)])
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    assert caller_jobs == []
    assert sorted(got) == [0, 1, 2, 3]
    # the same count in every group: no thread's jobs ran in another's
    assert len({len(jobs) for jobs in got.values()}) == 1 and got[0], got

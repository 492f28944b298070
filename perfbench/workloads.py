"""The benchmark's workloads, each a closed loop of operations run one
after another from one process.

- ``daily_mart``: the paper's daily batch, one day per operation:
  ``load_landing_file`` -> ``normalize_transactions`` ->
  ``add_report_data``, from day 0 of a new warehouse on; checked
  against the generator's expected report rows per fraud type, and the
  dimension sizes at the end.
- ``query_mix``: one pass over :data:`QUERIES` per operation, each
  call through the ``noop`` sink; every query is checked against its
  DuckDB oracle on an untimed pass, and an untimed ``noop`` pass warms
  up the session before the timed ones.

Each workload returns a :class:`Outcome`; ``run.py`` turns it into
metrics.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import functools
import os
import time

from pyspark.sql import functions as F

import bankgen
import corpus
import procstat
from spans import Tracer

#: the operator library calls timed by ``query_mix``
QUERIES = ["dedup_minhash_lsh", "dedup_jaccard_prefix", "dedup_image_phash"]


def bank_config(seed: int) -> bankgen.BankConfig:
    """``daily_mart``'s size: ~1.3k txns a day over ~330 clients, 4 of
    them hot with 120 txns each; 12 clients and 2 terminals change a
    day."""
    return bankgen.BankConfig(
        seed=seed, n_clients=2100, terminals_per_city=10,
        active_clients=250, hot_clients=4, hot_txns=120,
        passport_clients=6, account_clients=6, hops=8, hop_near_misses=4,
        chains=6, chain_near_misses=4, midnight_chains=3,
        client_changes=12, terminal_changes=2)


@dataclasses.dataclass
class Run:
    """What a workload needs from the benchmark process."""
    spark: object
    tracer: Tracer
    work: str             # scratch directory inside the checkout
    pid: int              # root of the measured process tree


@dataclasses.dataclass
class Outcome:
    setup_s: float
    op_wall_s: list[float]        # one per timed batch (day or pass)
    op_cpu_s: list[float]
    attempted: int = 0
    failed: int = 0
    setup_ok: bool = True         # the oracle or final-dimension check
    per_op: list[dict] = dataclasses.field(default_factory=list)
    probes: list[dict] = dataclasses.field(default_factory=list)
    notes: dict = dataclasses.field(default_factory=dict)


def n_ops(seconds: float, op_seconds: float, least: int = 1) -> int:
    """Timed operations in a run of ``seconds``, for an operation that
    takes about ``op_seconds`` on a 4-core host, and at least ``least``.
    The count depends on ``seconds`` only, so a slower program is
    measured on the same work."""
    return max(least, round(seconds / op_seconds))


def inventory(root: str) -> dict[str, int]:
    """path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple:
    """(files, bytes) present in ``after`` that are new or rewritten."""
    new = [p for p, n in after.items() if before.get(p) != n]
    return len(new), sum(after[p] for p in new)


# ---- daily_mart ---------------------------------------------------------
def instrument_store(tracer: Tracer, store) -> None:
    """Span every data-path method of the warehouse's TableStore, and
    count commits and rewritten buckets of ``overwrite_versioned``.
    Only traced runs call it: untraced days run the store as it is."""
    for attr in ("read", "read_buckets", "read_version", "append",
                 "truncate", "drop", "init_append", "init_versioned",
                 "overwrite_partitions", "compact_append"):
        tracer.wrap(store, attr, f"tablestore.{attr}")
    fn = store.overwrite_versioned

    @functools.wraps(fn)
    def overwrite_versioned(name, *args, **kwargs):
        t = time.perf_counter()          # the counting is trace overhead
        v0, files0 = store.current_version(name), store.bucket_files(name)
        tracer.overhead_s += time.perf_counter() - t
        with tracer.span("tablestore.overwrite_versioned") as rec:
            out = fn(name, *args, **kwargs)
        t = time.perf_counter()
        files1 = store.bucket_files(name)
        rec["counts"] = {
            "overwrite_calls": 1,
            "commits": int(store.current_version(name) != v0),
            "buckets_rewritten": sum(
                files0.get(k) != files1.get(k)
                for k in files0.keys() | files1.keys())}
        tracer.overhead_s += time.perf_counter() - t
        return out

    store.overwrite_versioned = overwrite_versioned


def report_counts(wh, run_ts: dt.datetime) -> dict[str, int]:
    rows = (wh.read("report").filter(F.col("report_dt") == F.lit(run_ts))
            .groupBy("fraud_type").count().collect())
    return {r["fraud_type"]: r["count"] for r in rows}


def check_day(got: dict[str, int], reported: int,
              expected: dict[str, int]) -> bool:
    """A day is correct when the report holds exactly the expected rows
    per fraud type and ``add_report_data`` returned their total."""
    want = {k: v for k, v in expected.items() if v}
    return got == want and reported == sum(want.values())


def run_day(run: Run, wh, cfg: bankgen.BankConfig, day: int,
            path: str) -> dict:
    """One pipeline day, timed from the extract being present until its
    report rows are committed. Returns its record; ``ok`` is False if a
    step raised or the report differs from the generator's expectation."""
    from greenplum_dwh_spark.etl import normalize_transactions
    from greenplum_dwh_spark.mart import add_report_data
    from greenplum_dwh_spark.sources import load_landing_file

    tr = run.tracer
    run_ts = dt.datetime.combine(bankgen.DAY0 + dt.timedelta(days=day),
                                 dt.time(23, 59))
    rec = {"day": day, "ok": False}
    inv0 = inventory(wh.store.base_dir)
    cpu0, t0 = procstat.cpu_seconds(run.pid), time.perf_counter()
    try:
        with tr.span("day"):
            with tr.span("sources.load_landing_file") as s:
                rows = load_landing_file(wh, path)
                s["counts"] = {"rows": rows}
            with tr.span("etl.normalize_transactions"):
                normalize_transactions(wh)
            with tr.span("mart.add_report_data") as s:
                n = add_report_data(wh, "scd2", run_ts=run_ts)
                s["counts"] = {"report_rows": n}
    except Exception as e:          # a failed day is counted, not raised
        rec["error"] = repr(e)
        n = None
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = procstat.cpu_seconds(run.pid) - cpu0
    rec["files_written"], rec["bytes_written"] = written(
        inv0, inventory(wh.store.base_dir))
    if n is not None:
        traced, tr.enabled = tr.enabled, False     # the check is no span
        try:
            rec["report"] = report_counts(wh, run_ts)
        finally:
            tr.enabled = traced
        rec["ok"] = check_day(rec["report"], n,
                              bankgen.expected_report(cfg, day))
    rec["run_ts"] = run_ts
    return rec


def dim_rows(store, name: str) -> int:
    """Rows of a versioned table's current version, from parquet footers
    (no Spark job)."""
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for files in store.bucket_files(name).values() for f in files)


def mart_probes(run: Run, wh, run_ts: dt.datetime) -> int:
    """Time the mart's parts one by one, outside the day: the staging
    (built and cached), then each rule through the noop sink in its
    own span. Returns the number of client groups rule 4 runs over."""
    from greenplum_dwh_spark.mart.chains import (LOOKBACK_MINUTES,
                                                 detect_amount_guessing)
    from greenplum_dwh_spark.mart.rules import rule_city_hop, rules_expired
    from greenplum_dwh_spark.mart.staging import mart_staging

    tr = run.tracer
    with tr.span("mart.mart_staging"):
        stg = mart_staging(wh, "scd2").cache()
        stg.count()
    try:
        for name, fn in (("mart.rules_expired", rules_expired),
                         ("mart.rule_city_hop", rule_city_hop),
                         ("mart.detect_amount_guessing",
                          detect_amount_guessing)):
            with tr.span(name):
                fn(stg, run_ts).write.format("noop").mode("overwrite").save()
        start = F.date_trunc("DAY", F.max("trans_date")) - F.expr(
            f"INTERVAL {LOOKBACK_MINUTES} MINUTES")
        lo = stg.agg(start.alias("lo")).first()["lo"]
        return (stg.filter(F.col("trans_date") >= F.lit(lo))
                .select("client").distinct().count())
    finally:
        stg.unpersist()


def daily_mart(run: Run, seed: int, seconds: float) -> Outcome:
    from greenplum_dwh_spark.warehouse import Warehouse

    tr, spark = run.tracer, run.spark
    t0 = time.perf_counter()
    cfg = bank_config(seed)
    max_days = min(8, n_ops(seconds, 40))
    paths = bankgen.write_extracts(spark, cfg,
                                   os.path.join(run.work, "extracts"),
                                   max_days)
    input_bytes = [sum(inventory(p).values()) for p in paths]
    t1 = time.perf_counter()
    wh = Warehouse(spark, os.path.join(run.work, "warehouse"))
    t2 = time.perf_counter()
    traced = tr.enabled
    if traced:
        instrument_store(tr, wh.store)
    out = Outcome(setup_s=time.perf_counter() - t0, op_wall_s=[],
                  op_cpu_s=[])
    days = []
    for day in range(max_days):
        tr.op, overhead = day, tr.overhead_s
        rec = run_day(run, wh, cfg, day, paths[day])
        tr.op = None
        rec["trace_overhead_s"] = tr.overhead_s - overhead
        days.append(rec)
        if traced:
            tr.op = f"probe-{day}"
            out.probes.append(
                {"mart.chains_groups": mart_probes(run, wh, rec["run_ts"])})
            tr.op = None
    last = days[-1]["day"]
    dims = {name: dim_rows(wh.store, name)
            for name in bankgen.expected_dims(cfg, last)}
    out.setup_ok = dims == bankgen.expected_dims(cfg, last)
    stored = sum(inventory(wh.store.base_dir).values())
    out.op_wall_s = [d["wall_s"] for d in days]
    out.op_cpu_s = [d["cpu_s"] for d in days]
    out.attempted, out.failed = len(days), sum(not d["ok"] for d in days)
    for d in days:
        day_in = input_bytes[d["day"]]
        out.per_op.append({
            "tablestore.files_written": d["files_written"],
            "tablestore.bytes_written": d["bytes_written"],
            "tablestore.written_bytes_per_input_byte":
                d["bytes_written"] / day_in,
            "trace.overhead_s": d["trace_overhead_s"]})
    out.notes = {
        "stored_bytes_per_input_byte":
            stored / sum(input_bytes[:last + 1]),
        "days": [{k: v for k, v in d.items() if k != "run_ts"}
                 for d in days],
        "dims": dims,
        "setup_phases_s": {"generate": t1 - t0, "warehouse_init": t2 - t1}}
    return out


# ---- query_mix ----------------------------------------------------------
def query_mix(run: Run, seed: int, seconds: float) -> Outcome:
    import __spark_entry__ as entry
    from greenplum_dwh_spark.plans.parity import compare

    tr, spark = run.tracer, run.spark
    t0 = time.perf_counter()
    data = corpus.write(seed, os.path.join(run.work, "corpus"))
    t1 = time.perf_counter()
    queries, oracles = entry.queries(), entry.oracle_sql()
    wrong = {}
    for q in QUERIES:       # untimed: the oracle check
        try:
            res = compare(queries[q](spark, data), oracles[q], data)
            if not res["ok"]:
                wrong[q] = res["detail"]
        except Exception as e:
            wrong[q] = repr(e)
    t2 = time.perf_counter()

    def noop(q: str) -> None:
        queries[q](spark, data).write.format("noop").mode("overwrite").save()

    # An untimed warm-up pass through the noop sink, then the timed
    # passes. On a 4-vCPU host the first noop pass after the oracle
    # check runs ~15% slower than the next ones, and from the fifth
    # execution of the queries on the JVM spends ~7 s more CPU a pass
    # for a pass or two; warm-up plus three timed passes stay between.
    spark.catalog.clearCache()
    for q in QUERIES:
        try:
            noop(q)
        except Exception as e:
            wrong.setdefault(q, repr(e))
    out = Outcome(setup_s=time.perf_counter() - t0, op_wall_s=[],
                  op_cpu_s=[], setup_ok=not wrong)

    for i in range(n_ops(seconds, 6, least=3)):
        spark.catalog.clearCache()
        tr.op, overhead = i, tr.overhead_s
        cpu0, t = procstat.cpu_seconds(run.pid), time.perf_counter()
        with tr.span("pass"):
            for q in QUERIES:
                out.attempted += 1
                try:
                    with tr.span(f"operators.{q}"):
                        noop(q)
                    out.failed += q in wrong
                except Exception as e:
                    out.failed += 1
                    wrong.setdefault(q, repr(e))
        wall = time.perf_counter() - t
        tr.op = None
        out.op_wall_s.append(wall)
        out.op_cpu_s.append(procstat.cpu_seconds(run.pid) - cpu0)
        out.per_op.append({"trace.overhead_s": tr.overhead_s - overhead})
    out.notes = {"wrong": wrong, "queries": QUERIES,
                 "setup_phases_s": {"generate": t1 - t0,
                                    "oracle_pass": t2 - t1,
                                    "warm_up_pass": out.setup_s - (t2 - t0)}}
    return out


WORKLOADS = {"daily_mart": daily_mart, "query_mix": query_mix}

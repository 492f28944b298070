"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_mart --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. All scratch files
(extracts, warehouse, Spark local and temp dirs, event log) live under
``.perfbench/`` in the checkout and are removed at the end.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer record with ``--trace 1``. A JSON record of the run (host
load and steal before and after, every operation's numbers, the checks)
goes to stderr. See ``perfbench/LAYERS.md`` for what each metric is.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"batch_s": "s", "cpu_s": "s", "setup_s": "s"}


def per_layer_names(queries: list[str]) -> list[str]:
    return [
        "session.start_s", "session.peak_rss_mb",
        "sources.load_s", "sources.jobs", "sources.rows",
        "etl.normalize_s", "etl.self_s", "etl.jobs", "etl.tasks",
        "etl.executor_cpu_s", "etl.busy_ratio", "etl.shuffle_bytes",
        "tablestore.overwrite_s", "tablestore.overwrite_calls",
        "tablestore.commits", "tablestore.commit_ratio",
        "tablestore.buckets_rewritten", "tablestore.append_s",
        "tablestore.read_calls", "tablestore.jobs",
        "tablestore.bytes_written", "tablestore.files_written",
        "tablestore.written_bytes_per_input_byte",
        "tablestore.stored_bytes_per_input_byte",
        "mart.report_s", "mart.jobs", "mart.executor_cpu_s",
        "mart.busy_ratio", "mart.shuffle_bytes", "mart.report_rows",
        "mart.staging_s", "mart.rules_expired_s", "mart.city_hop_s",
        "mart.chains_s", "mart.chains_groups", "mart.chains_tasks",
        *[f"operators.{q}_s" for q in queries],
        "operators.jobs", "operators.executor_cpu_s",
        "operators.shuffle_bytes", "operators.spill_bytes",
        "operators.gc_s", "operators.busy_ratio",
        "spark.gc_s", "spark.spill_bytes",
        "trace.batch_s", "trace.unattributed_s", "trace.overhead_s",
    ]


#: per-layer name -> key of the per-operation span totals it is read from
_FROM_SPANS = {
    "sources.load_s": "sources.load_landing_file.wall_s",
    "etl.normalize_s": "etl.normalize_transactions.wall_s",
    "tablestore.overwrite_s": "tablestore.overwrite_versioned.wall_s",
    "tablestore.append_s": "tablestore.append.wall_s",
    "mart.report_s": "mart.add_report_data.wall_s",
    "mart.staging_s": "mart.mart_staging.wall_s",
    "mart.rules_expired_s": "mart.rules_expired.wall_s",
    "mart.city_hop_s": "mart.rule_city_hop.wall_s",
    "mart.chains_s": "mart.detect_amount_guessing.wall_s",
    "mart.chains_tasks": "mart.detect_amount_guessing.last_stage_tasks",
    "spark.gc_s": "op.gc_s",
    "spark.spill_bytes": "op.spill_bytes",
}


def _op_record(spans: dict, extra: dict, queries: list[str]) -> dict:
    """Per-layer values of one operation from its span totals."""
    rec = dict(extra)
    for k, v in spans.items():
        rec.setdefault(k, v)
    for name, key in _FROM_SPANS.items():
        rec[name] = spans.get(key, 0)
    for q in queries:
        rec[f"operators.{q}_s"] = spans.get(f"operators.{q}.wall_s", 0)
    rec["tablestore.read_calls"] = sum(
        spans.get(f"tablestore.{m}.calls", 0)
        for m in ("read", "read_buckets", "read_version"))
    calls = spans.get("tablestore.overwrite_calls", 0)
    rec["tablestore.commit_ratio"] = (
        spans.get("tablestore.commits", 0) / calls if calls else 0)
    rec["trace.unattributed_s"] = (spans.get("day.self_s", 0)
                                   + spans.get("pass.self_s", 0))
    return rec


def _session(work: str, traced: bool):
    """The benchmark's own session confs on local[nproc]."""
    from greenplum_dwh_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        # a short-lived small-host JVM: the C1 compiler only (C2 cost
        # ~28% more CPU per pipeline day and was no faster within a run)
        # and the serial collector leave the cores to Spark's own threads
        "spark.driver.extraJavaOptions":
            "-XX:+UseSerialGC -XX:TieredStopAtLevel=1",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.eventLog.enabled": str(traced).lower(),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work,
                                                              "eventlog")
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop(spark, pids: list[int]) -> None:
    """Stop Spark and its JVM, then wait for every process of the tree."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()          # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    live = [p for p in pids if p != os.getpid()]
    for grace_s in (30, 10):
        deadline = time.time() + grace_s
        while live and time.time() < deadline:
            live = [p for p in live if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in live:              # still running after the grace time
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "greenplum_dwh_spark")):
        print(f"perfbench: no greenplum_dwh_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import procstat
    import workloads
    from spans import Tracer, read_event_log
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything the JVM, Python workers and tempfile write stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    traced = bool(args.trace)
    host0 = procstat.host_stamp()
    spark = None
    try:
        # the RSS sampler lists /proc every 100 ms: traced runs only, so
        # untraced runs measure the program alone
        with (procstat.PeakRss(os.getpid()) if traced
              else contextlib.nullcontext()) as rss:
            try:
                t0 = time.perf_counter()
                spark, cores = _session(work, traced)
                start_s = time.perf_counter() - t0
                tracer = Tracer(spark.sparkContext, traced)
                run = workloads.Run(spark, tracer, work, os.getpid())
                out = workloads.WORKLOADS[args.workload](run, args.seed,
                                                         args.seconds)
            finally:
                if spark is not None:
                    _stop(spark, procstat.tree(os.getpid()))
        groups = (read_event_log(os.path.join(work, "eventlog"))
                  if traced else {})
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    host1 = procstat.host_stamp()

    correct = out.setup_ok and out.failed == 0
    if traced:
        totals = tracer.layer_totals(groups, cores)
        qs = workloads.QUERIES
        ops = [_op_record(totals.get(i, {}), extra, qs)
               for i, extra in enumerate(out.per_op)]
        probes = [_op_record(totals.get(f"probe-{i}", {}), extra, qs)
                  for i, extra in enumerate(out.probes)]
        names = per_layer_names(qs)
        metrics = {}
        for name in names:
            src = probes if name.startswith(
                ("mart.staging", "mart.rules", "mart.city", "mart.chains")) \
                else ops
            metrics[name] = statistics.median(
                [r.get(name, 0) for r in src]) if src else 0
        metrics["session.start_s"] = start_s
        metrics["session.peak_rss_mb"] = rss.peak / 2**20
        metrics["trace.batch_s"] = statistics.median(out.op_wall_s)
        metrics["tablestore.stored_bytes_per_input_byte"] = out.notes.get(
            "stored_bytes_per_input_byte", 0)
        result = {name: {"value": metrics[name], "unit": _unit(name)}
                  for name in names}
    else:
        values = {
            "batch_s": statistics.median(out.op_wall_s),
            "cpu_s": statistics.median(out.op_cpu_s),
            "setup_s": start_s + out.setup_s,
        }
        result = {k: {"value": v, "unit": END_TO_END[k]}
                  for k, v in values.items()}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host_before": host0,
              "host_after": host1, "session_start_s": start_s,
              "setup_s": out.setup_s, "op_wall_s": out.op_wall_s,
              "op_cpu_s": out.op_cpu_s, "notes": out.notes}
    print(json.dumps(record, default=str), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": result}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

"""Dump `.explain("formatted")` for headline queries into
plans/r<round>/<query>_<suffix>.txt — an optimization round's
before/after plan evidence (plan claims are checked against these
files).

Usage:
  python scripts/dump_round_plans.py <round> before [query,query,...]
  python scripts/dump_round_plans.py <round> after  [query,query,...]

With no query list, dumps every bench headline query.  SF dir comes
from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) so the plans
match what the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit("usage: dump_round_plans.py <round> before|after "
                 "[query,query,...]")
    rnd, suffix = int(sys.argv[1]), sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench
    from greenplum_dwh_spark.session import get_spark
    spark = get_spark("dump_round_plans",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench.bench_queries()
    if only:
        missing = only - set(qs)
        if missing:
            # non-headline queries() entries are reachable too
            import __spark_entry__ as e
            allq = e.queries()
            for m in sorted(missing):
                qs[m] = allq[m]
        qs = {k: v for k, v in qs.items() if k in only}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(repo, "plans", f"r{rnd}")
    os.makedirs(outdir, exist_ok=True)
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan.rstrip() + "\n")
        print(f"wrote {name}_{suffix}.txt", flush=True)


if __name__ == "__main__":
    main()

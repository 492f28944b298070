"""Drive the engine end-to-end through the public package API, and
print the Spark jobs each pipeline day starts, per phase.

    python scripts/drive_pipeline.py

Jobs are read from one job group per phase (``tests/job_groups.py``).
"""
import datetime as dt, os, sys, tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import greenplum_dwh_spark as g
from greenplum_dwh_spark.warehouse import Warehouse
from greenplum_dwh_spark.sources import load_landing_file
from greenplum_dwh_spark.etl import normalize_transactions
from greenplum_dwh_spark.mart import add_report_data
from greenplum_dwh_spark.mart.report import report_pivot

sys.path.insert(0, os.path.join(REPO, "tests"))
import bank_fixture as bf
from job_groups import job_group

spark = g.get_spark("verify-drive", extra_conf={"spark.ui.enabled": "false",
                                                "spark.sql.shuffle.partitions": "8"})
tmp = tempfile.mkdtemp()
wh = Warehouse(spark, tmp + "/wh")
paths = bf.write_extracts(spark, tmp + "/extracts")
for i, p in enumerate(paths):
    with job_group(spark, "load") as load_jobs:
        n = load_landing_file(wh, p)
    with job_group(spark, "normalize") as etl_jobs:
        c = normalize_transactions(wh)
    with job_group(spark, "mart") as mart_jobs:
        r = add_report_data(wh, "scd2", run_ts=dt.datetime(2020, 5, 2 + i, 23, 0))
    jobs = {"load": len(load_jobs), "normalize": len(etl_jobs), "mart": len(mart_jobs)}
    print(f"day{i+1}: loaded={n} fact_total={c.get('fact_appended')} report_appended={r}"
          f" spark_jobs={sum(jobs.values())} {jobs}")

print("\n=== report sample (day-3 run) ===")
rep = wh.read("report")
rep.filter("report_dt = timestamp'2020-05-04 23:00:00'").orderBy("fraud_type", "fraud_dt").show(30, truncate=False)
print("=== pivot (plot_report equivalent) ===")
report_pivot(rep).show(truncate=False)

print("=== probe: invalid scd_type ===")
try:
    add_report_data(wh, "scd3")
    print("NO ERROR (bad)")
except ValueError as e:
    print("ValueError:", e)

print("=== probe: mart on empty warehouse ===")
wh2 = Warehouse(spark, tmp + "/wh_empty")
print("empty mart rows appended:", add_report_data(wh2, "scd2"))
print("=== probe: double-load same file (reference double-load semantics) ===")
wh3 = Warehouse(spark, tmp + "/wh3")
load_landing_file(wh3, paths[0]); normalize_transactions(wh3)
load_landing_file(wh3, paths[0]); normalize_transactions(wh3)
print("fact rows after loading day-1 file twice:", wh3.read("fact_transactions").count(),
      "(expected 2x day-1 rows — reference has no fact dedup, ETL.sql:121-130)")

"""Bucketed co-located joins — the Spark equivalent of the reference's
DISTRIBUTED BY co-location (DDL.sql:40,59; SURVEY.md §1.4). Writing
both join sides bucketed by the join key removes the shuffle from the
join entirely; at 100 TB this converts the biggest exchange of a
fact-fact join into a map-side zip of bucket files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from greenplum_dwh_spark.plans import checks
from greenplum_dwh_spark.session import BROADCAST_LIMIT_BYTES
from greenplum_dwh_spark.sources.tpch import Tables


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    # managed tables land in ./spark-warehouse (gitignored);
    # warehouse.dir is a static conf so we can't point it at tmp
    t = Tables(spark, sf_dir)
    for name, df, key in [("b_lineitem", t.lineitem, "l_orderkey"),
                          ("b_orders", t.orders, "o_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (df.write.bucketBy(8, key).sortBy(key)
         .mode("overwrite").saveAsTable(name))
    yield "b_lineitem", "b_orders"
    for name in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li_name, o_name = bucketed_tables
    li, o = spark.table(li_name), spark.table(o_name)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = (li.join(o, li.l_orderkey == o.o_orderkey)
                  .groupBy("o_orderpriority")
                  .agg(F.count(F.lit(1)).alias("n")))
        plan = checks.physical_plan(joined)
        # sort-merge join with ZERO exchanges before it: bucket
        # co-location replaced the shuffle
        join_part = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in join_part
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(BROADCAST_LIMIT_BYTES))
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bucketed_join_results_match_unbucketed(spark, sf_dir,
                                                bucketed_tables):
    li_name, o_name = bucketed_tables
    t = Tables(spark, sf_dir)
    bucketed = (spark.table(li_name)
                .join(spark.table(o_name),
                      F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_orderpriority").count().collect())
    plain = (t.lineitem
             .join(t.orders, t.lineitem.l_orderkey == t.orders.o_orderkey)
             .groupBy("o_orderpriority").count().collect())
    assert sorted((r["o_orderpriority"], r["count"]) for r in bucketed) \
        == sorted((r["o_orderpriority"], r["count"]) for r in plain)


def test_zorder_clustering_bounds_file_boxes(spark, tmp_path):
    """Clustering a 64×64 (x, y) grid by the Morton key gives every
    file a bounded 2-D bounding box (so min/max footer stats prune
    box queries on BOTH dimensions), while clustering by x alone
    leaves y ranges spanning the whole domain."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from greenplum_dwh_spark.functions.zorder import zorder_key2
    from greenplum_dwh_spark.tablestore import TableStore

    n, files = 64, 16
    schema = T.StructType([T.StructField("x", T.LongType()),
                           T.StructField("y", T.LongType()),
                           T.StructField("z", T.LongType())])
    rows = spark.range(n * n).select(
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"))
    rows = rows.withColumn(
        "z", zorder_key2(F.col("x"), F.col("y"), bits=6))

    def boxes(store_dir):
        out = []
        for f in glob.glob(str(store_dir / "t" / "*.parquet")):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name
                     for i in range(md.num_columns)]
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = {names[i]: rg.column(i).statistics
                      for i in range(rg.num_columns)}
                out.append(((st["x"].min, st["x"].max),
                            (st["y"].min, st["y"].max)))
        return out

    def build(cluster_col):
        d = tmp_path / f"store_{cluster_col}"
        ts = TableStore(spark, str(d))
        ts.init_append("t", schema)
        ts.append("t", rows.repartition(4))
        ts.compact_append("t", target_files=files,
                          cluster_cols=[cluster_col])
        return boxes(d)

    zb = build("z")
    xb = build("x")
    # x-clustered: every file spans the FULL y domain
    assert all(ylo == 0 and yhi == n - 1 for _, (ylo, yhi) in xb)
    # z-clustered: a contiguous z-range that straddles a high-bit
    # quadrant boundary can have a wide bounding box, but never the
    # full domain, and MOST ranges stay tile-sized
    areas = sorted((xhi - xlo + 1) * (yhi - ylo + 1)
                   for (xlo, xhi), (ylo, yhi) in zb)
    assert all(a <= n * n // 2 for a in areas), areas
    assert areas[3 * len(areas) // 4] <= 4 * n * n // files, areas
    # and a 2-D point query prunes most files by footer stats alone
    px, py = 17, 42
    hit = [1 for (xlo, xhi), (ylo, yhi) in zb
           if xlo <= px <= xhi and ylo <= py <= yhi]
    assert len(hit) <= max(2, len(zb) // 4)

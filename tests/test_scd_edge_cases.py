"""Unit tests for SCD apply edge cases the 3-day golden flow can't
reach: multiple staged versions of one key in a single batch, and the
reference's revert-to-old-tuple quirk (SURVEY.md §2.11)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from greenplum_dwh_spark.etl.scd1 import scd1_apply
from greenplum_dwh_spark.etl.scd2 import scd2_apply
from greenplum_dwh_spark.etl.staging import scd1_staging, scd2_staging
from greenplum_dwh_spark.schemas import DIM_CARDS, DIM_CARDS_HIST, DIMENSIONS

TS = lambda d, h=0: dt.datetime(2020, 5, d, h, 0, 0)
ATTRS = ["card_num", "account_num"]


def _hist(spark, rows):
    return spark.createDataFrame(rows, DIM_CARDS_HIST)


def _staged(spark, rows):
    """staged rows: (card, account, start_dt, end_dt)"""
    return spark.createDataFrame(rows, DIM_CARDS_HIST)


def test_scd2_two_new_versions_in_one_batch(spark):
    """An entity changing twice inside one batch: lead() has already
    closed the older version; only the newest closes the open dim row
    (the sc.end_dt IS NULL guard, ETL.sql:104)."""
    dim = _hist(spark, [("c1", "a1", TS(1), None)])
    staged = _staged(spark, [("c1", "a2", TS(2, 1), TS(2, 5)),
                             ("c1", "a3", TS(2, 5), None)])
    out = scd2_apply(dim, staged, "card_num", ATTRS)
    rows = {(r["account_num"]): r for r in out.collect()}
    assert len(rows) == 3
    # the previously-open row closes at the NEWEST staged start_dt
    assert rows["a1"]["end_dt"] == TS(2, 5)
    assert rows["a2"]["end_dt"] == TS(2, 5)
    assert rows["a3"]["end_dt"] is None


def test_scd2_revert_to_old_tuple_is_noop(spark):
    """Reference quirk preserved: an entity reverting to an attribute
    tuple it held before produces no new version and no close-out
    (the NOT EXISTS matches the old closed row, ETL.sql:92-99)."""
    dim = _hist(spark, [("c1", "a1", TS(1), TS(2)),
                        ("c1", "a2", TS(2), None)])
    staged = _staged(spark, [("c1", "a1", TS(3), None)])
    out = scd2_apply(dim, staged, "card_num", ATTRS)
    rows = sorted(out.collect(), key=lambda r: r["start_dt"])
    assert len(rows) == 2
    assert rows[1]["account_num"] == "a2" and rows[1]["end_dt"] is None


def test_scd2_reload_identical_tuple_is_noop(spark):
    dim = _hist(spark, [("c1", "a1", TS(1), None)])
    staged = _staged(spark, [("c1", "a1", TS(3), None)])
    out = scd2_apply(dim, staged, "card_num", ATTRS)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["end_dt"] is None


def test_scd1_staging_collapses_multi_version_batch(spark):
    """A brand-new entity with two versions in one batch must stage as
    ONE row (newest attrs, create_dt = min, update_dt = max) — the
    uniform SELECT DISTINCT fix over ETL.sql:250."""
    from greenplum_dwh_spark import schemas
    landing = spark.createDataFrame(
        [("t1", TS(2, 1), "c1", "a_old", dt.date(2030, 1, 1), "cl1",
          "l", "f", "p", dt.date(1990, 1, 1), "400", dt.date(2030, 1, 1),
          "+7", "Оплата", __import__("decimal").Decimal("1.00"), "Успешно", "T1", "POS", "X", "X, 1"),
         ("t2", TS(2, 5), "c1", "a_new", dt.date(2030, 1, 1), "cl1",
          "l", "f", "p", dt.date(1990, 1, 1), "400", dt.date(2030, 1, 1),
          "+7", "Оплата", __import__("decimal").Decimal("2.00"), "Успешно", "T1", "POS", "X", "X, 1")],
        schemas.LANDING)
    staged = scd1_staging(landing, DIMENSIONS["cards"])
    rows = staged.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["account_num"] == "a_new"
    assert r["create_dt"] == TS(2, 1)
    assert r["update_dt"] == TS(2, 5)
    # and applying to an empty dim inserts exactly one row
    empty = spark.createDataFrame([], DIM_CARDS)
    out = scd1_apply(empty, staged, "card_num", ["account_num"])
    assert out.count() == 1


def test_approx_distinct_close_to_exact(spark, sf_dir):
    from greenplum_dwh_spark.operators.relational import (
        approx_distinct_parts, distinct_parts_per_flag)
    exact = {r["l_returnflag"]: r["n_parts"]
             for r in distinct_parts_per_flag(spark, sf_dir).collect()}
    approx = {r["l_returnflag"]: r["n_parts_approx"]
              for r in approx_distinct_parts(spark, sf_dir).collect()}
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.1, (k, v, approx[k])


def test_csv_extract_roundtrip(spark, tmp_path):
    """CSV ingestion path: header + string cells → typed landing rows."""
    from greenplum_dwh_spark.sources.landing import read_extract
    from tests import bank_fixture as bf
    pdf = bf.generate_extracts()[bf.DAYS[0]].head(20)
    csv_path = tmp_path / "extract.csv"
    pdf.to_csv(csv_path, index=False)
    df = read_extract(spark, str(csv_path))
    from greenplum_dwh_spark import schemas
    assert [f.name for f in df.schema.fields] == \
        [f.name for f in schemas.LANDING.fields]
    rows = df.orderBy("trans_id").collect()
    assert len(rows) == 20
    assert rows[0]["trans_date"] == pdf.iloc[0]["trans_date"].to_pydatetime()
    assert float(rows[0]["amount"]) == float(pdf.iloc[0]["amount"])


def test_approx_percentile_close_to_exact(spark, sf_dir):
    from greenplum_dwh_spark.operators.relational import (
        approx_percentile_prices)
    from greenplum_dwh_spark.sources.tpch import Tables
    exact = {r["l_returnflag"]: r["m"] for r in
             Tables(spark, sf_dir).lineitem
             .groupBy("l_returnflag")
             .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("m"))
             .collect()}
    approx = {r["l_returnflag"]: r["median_price_approx"] for r in
              approx_percentile_prices(spark, sf_dir).collect()}
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.05, (k, v, approx[k])


def test_dim_merge_rewrites_only_changed_buckets(spark, tmp_path):
    """Bucket-granular copy-on-write: a day-3 batch whose only client
    change is C002's phone must leave every clients-dim bucket that
    does not hold C002 byte-identical (same files, same content) —
    only C002's bucket gets a new version directory."""
    import hashlib

    from pyspark.sql import functions as F

    from greenplum_dwh_spark.etl import normalize_transactions
    from greenplum_dwh_spark.sources import load_landing_file
    from greenplum_dwh_spark.warehouse import Warehouse
    from tests import bank_fixture as bf

    def digests(files):
        return [(p, hashlib.md5(open(p, "rb").read()).hexdigest())
                for p in files]

    wh = Warehouse(spark, str(tmp_path / "wh"))
    paths = bf.write_extracts(spark, str(tmp_path / "ex"))
    for p in paths[:2]:
        load_landing_file(wh, p)
        normalize_transactions(wh)
    table = "dim_clients_hist"
    before = {k: digests(v)
              for k, v in wh.store.bucket_files(table).items()}
    # day 3: client C002 changes phone (the only client-attr change)
    load_landing_file(wh, paths[2])
    normalize_transactions(wh)
    after = {k: digests(v)
             for k, v in wh.store.bucket_files(table).items()}
    changed = {k for k in before.keys() | after.keys()
               if before.get(k) != after.get(k)}
    # exactly the bucket holding C002 was rewritten...
    hot = wh.read(table).filter(F.col("client_id") == bf.SCD_CLIENT) \
        .select(wh.store._bucket_col(table).alias("b")).first()["b"]
    assert changed == {hot}
    # ...and every other bucket's files are the same paths AND bytes
    for k in before:
        if k != hot:
            assert after[k] == before[k]
    # the merge closed out the old C002 row and added the new version
    c2 = wh.read(table).filter(
        F.col("client_id") == bf.SCD_CLIENT).collect()
    assert len(c2) == 2
    assert {r["phone"] for r in c2} == {"+79000000002", bf.NEW_PHONE}


def test_unchanged_batch_skips_dim_rewrites(spark, tmp_path):
    """Loading a batch whose entities carry identical attributes must
    not bump the dim versions (steady-state no-op short-circuit)."""
    from greenplum_dwh_spark.etl import normalize_transactions
    from greenplum_dwh_spark.sources import load_landing_file
    from greenplum_dwh_spark.warehouse import Warehouse
    from tests import bank_fixture as bf
    wh = Warehouse(spark, str(tmp_path / "wh"))
    paths = bf.write_extracts(spark, str(tmp_path / "ex"))
    load_landing_file(wh, paths[0])
    normalize_transactions(wh)
    v_before = {n: wh.store.current_version(n)
                for n in ("dim_cards_hist", "dim_cards")}
    # re-load the SAME day-1 file: all attr tuples already known
    load_landing_file(wh, paths[0])
    normalize_transactions(wh)
    v_after = {n: wh.store.current_version(n)
               for n in ("dim_cards_hist", "dim_cards")}
    assert v_before == v_after          # no rewrite happened
    # fact still double-appends (reference semantics)
    assert wh.read("fact_transactions").count() == 130


def test_jsonl_extract_roundtrip(spark, tmp_path):
    """JSONL ingestion path: declared schema (no inference scan),
    FAILFAST on malformed rows."""
    import pytest

    from greenplum_dwh_spark import schemas
    from greenplum_dwh_spark.sources.landing import read_extract
    from tests import bank_fixture as bf
    import pandas as pd

    from pyspark.sql import types as T
    pdf = bf.generate_extracts()[bf.DAYS[0]].head(20).copy()
    pdf["trans_date"] = pdf["trans_date"].dt.strftime("%Y-%m-%d %H:%M:%S")
    # JSON carries dates as strings (pandas would otherwise serialize
    # date cells as epoch millis, which the declared DATE type rejects)
    for f, col in zip(schemas.LANDING.fields, pdf.columns):
        if isinstance(f.dataType, T.DateType):
            pdf[col] = pd.Series(
                [None if v is None else str(v) for v in pdf[col]])
    path = tmp_path / "extract.jsonl"
    pdf.to_json(path, orient="records", lines=True)
    df = read_extract(spark, str(path))
    assert [f.name for f in df.schema.fields] == \
        [f.name for f in schemas.LANDING.fields]
    rows = df.orderBy("trans_id").collect()
    assert len(rows) == 20
    assert rows[0]["trans_date"] is not None
    assert float(rows[0]["amount"]) == float(pdf.iloc[0]["amount"])

    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"trans_id": "t1", "amount": "not-a-number"}\n'
                   "this is not json\n")
    with pytest.raises(Exception):
        read_extract(spark, str(bad)).collect()


def test_orc_extract_roundtrip(spark, tmp_path):
    """ORC ingestion path: Spark-native typed read, positional
    mapping identical to the parquet path."""
    from greenplum_dwh_spark import schemas
    from greenplum_dwh_spark.sources.landing import read_extract
    from tests import bank_fixture as bf
    pdf = bf.generate_extracts()[bf.DAYS[0]].head(20)
    src = spark.createDataFrame(pdf)
    path = str(tmp_path / "extract.orc")
    src.coalesce(1).write.orc(path)
    df = read_extract(spark, path)
    assert [f.name for f in df.schema.fields] == \
        [f.name for f in schemas.LANDING.fields]
    rows = df.orderBy("trans_id").collect()
    assert len(rows) == 20
    assert float(rows[0]["amount"]) == float(
        pdf.sort_values("trans_id").iloc[0]["amount"])


def test_read_buckets_prunes_and_pruned_commit_matches_full(spark, tmp_path):
    """Round-5 verdict item 6: the bucket-pruned MERGE commit.
    ``read_buckets`` must return exactly the listed buckets' rows (an
    empty list still yields a typed 0-row frame via the anchor);
    ``overwrite_versioned(..., only_buckets=touched)`` must (a) leave
    every untouched bucket's files byte-identical paths-and-bytes,
    (b) produce the same table content as the full-diff commit, and
    (c) raise on a df row hashing outside the listed buckets — a
    silent stray would vanish while its bucket kept the stale
    manifest entry."""
    import hashlib

    import pytest
    from pyspark.sql import types as T

    from greenplum_dwh_spark.tablestore import TableStore

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType())])
    store = TableStore(spark, str(tmp_path / "store"))
    store.init_versioned("t", schema, key_col="k")
    base = spark.range(200).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    store.overwrite_versioned("t", base)

    bucket_of = {r["k"]: r["b"] for r in base.select(
        "k", store._bucket_col("t").alias("b")).collect()}
    some_bucket = bucket_of[7]
    want_keys = sorted(k for k, b in bucket_of.items()
                       if b == some_bucket)
    got = store.read_buckets("t", [some_bucket])
    assert sorted(r["k"] for r in got.collect()) == want_keys
    empty = store.read_buckets("t", [])
    assert empty.count() == 0
    assert [f.name for f in empty.schema] == ["k", "v"]

    # pruned commit: update key 7 only (one touched bucket)
    def digests(files):
        return [(p, hashlib.md5(open(p, "rb").read()).hexdigest())
                for p in files]
    before = {k: digests(v)
              for k, v in store.bucket_files("t").items()}
    upd = spark.createDataFrame([(7, 777)], "k long, v long")
    merged = (store.read_buckets("t", [some_bucket])
              .join(upd.select("k"), "k", "left_anti").unionByName(upd))
    store.overwrite_versioned("t", merged, only_buckets=[some_bucket])
    after = {k: digests(v)
             for k, v in store.bucket_files("t").items()}
    assert {k for k in before if before[k] != after.get(k)} \
        == {some_bucket}
    rows = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert rows[7] == 777 and len(rows) == 200
    assert rows[8] == 80

    # stray row outside only_buckets must raise, not vanish
    other = next(b for b in bucket_of.values() if b != some_bucket)
    stray_key = next(k for k, b in bucket_of.items() if b == other)
    bad = spark.createDataFrame([(stray_key, 1)], "k long, v long")
    with pytest.raises(ValueError, match="outside"):
        store.overwrite_versioned("t", bad, only_buckets=[some_bucket])


# ---- commit-carried fingerprints and row counts ------------------------
def _versioned_tables():
    from greenplum_dwh_spark.warehouse import TABLES
    return sorted(n for n, (_, kind) in TABLES.items()
                  if kind == "versioned")


@pytest.fixture(scope="module")
def three_days(spark, tmp_path_factory):
    """The 3-day bank fixture pipeline; per day, the dim counts
    ``normalize_transactions`` returned next to a fresh ``count()``."""
    from greenplum_dwh_spark.etl import normalize_transactions
    from greenplum_dwh_spark.sources import load_landing_file
    from greenplum_dwh_spark.warehouse import Warehouse
    from tests import bank_fixture as bf

    root = tmp_path_factory.mktemp("three_days")
    wh = Warehouse(spark, str(root / "wh"))
    per_day = []
    for p in bf.write_extracts(spark, str(root / "ex")):
        load_landing_file(wh, p)
        got = normalize_transactions(wh)
        per_day.append((
            {n: got[n] for n in _versioned_tables()},
            {n: wh.read(n).count() for n in _versioned_tables()}))
    return wh, per_day


def _assert_manifest_matches_scan(store, name):
    """The current manifest stores, for exactly its live buckets, the
    (fingerprint, rows) a fresh scan of the table computes."""
    v = store.current_version(name)
    stored = store._stored_fingerprints(store._manifest_doc(name, v))
    assert set(stored) == set(store._manifest(name, v)), name
    fresh = store._fingerprints(store.read(name), store._bucket_col(name))
    assert stored == fresh, name
    assert store.row_count(name) == sum(n for _, n in fresh.values())


def test_stored_fingerprints_equal_fresh_scan(three_days):
    """After the 3-day pipeline, and after one ``only_buckets``
    commit, every versioned table's manifest carries the per-bucket
    fingerprint and row count a fresh scan computes — and the commit
    fingerprints only its new side (one ``_fingerprints`` call)."""
    from tests import bank_fixture as bf

    wh, _ = three_days
    store = wh.store
    for name in _versioned_tables():
        _assert_manifest_matches_scan(store, name)

    table = "dim_clients"
    hot = (wh.read(table).filter(F.col("client_id") == bf.SCD_CLIENT)
           .select(store._bucket_col(table).alias("b")).first()["b"])
    merged = store.read_buckets(table, [hot]).withColumn(
        "phone", F.when(F.col("client_id") == bf.SCD_CLIENT,
                        F.lit("+70000000000")).otherwise(F.col("phone")))
    calls = []
    fingerprints = store._fingerprints

    def counted(*args):
        calls.append(1)
        return fingerprints(*args)

    store._fingerprints = counted
    v0 = store.current_version(table)
    try:
        store.overwrite_versioned(table, merged, only_buckets=[hot])
    finally:
        del store._fingerprints
    assert len(calls) == 1
    assert store.current_version(table) == v0 + 1
    _assert_manifest_matches_scan(store, table)


def _kv_table(spark):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.LongType())])
    base = spark.range(200).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    return schema, base


def _strip(path, key):
    """Delete ``key`` from the JSON document at ``path``."""
    import json

    with open(path) as f:
        doc = json.load(f)
    del doc[key]
    with open(path, "w") as f:
        json.dump(doc, f)


def test_manifest_without_fingerprints_is_rewritten_once(spark, tmp_path):
    """A manifest that stores no ``fps``: ``row_count`` refuses it, the
    next commit rewrites every bucket, drops a bucket that vanished,
    and ends equal to a clean run, fingerprints included."""
    from greenplum_dwh_spark.tablestore import TableStore

    schema, base = _kv_table(spark)

    def run(root, strip):
        store = TableStore(spark, str(root))
        store.init_versioned("t", schema, key_col="k")
        store.overwrite_versioned("t", base)
        v = store.current_version("t")
        if strip:
            _strip(root / "t" / f"m_{v}.json", "fps")
            with pytest.raises(ValueError, match="no stored row count"):
                store.row_count("t")
        bucket = store._bucket_col("t")
        gone = base.filter(F.col("k") == 3).select(
            bucket.alias("b")).first()["b"]
        nxt = (base.filter(bucket != gone)
               .withColumn("v", F.when(F.col("k") == 7, F.lit(-1))
                           .otherwise(F.col("v"))))
        store.overwrite_versioned("t", nxt)
        return store, v + 1, gone

    stripped, v, gone = run(tmp_path / "stripped", strip=True)
    clean, _, _ = run(tmp_path / "clean", strip=False)
    manifest = stripped._manifest("t", v)
    assert gone not in manifest
    assert set(manifest.values()) == {v}          # every bucket rewritten
    assert set(clean._manifest("t", v).values()) != {v}
    assert sorted(stripped.read("t").collect()) == \
        sorted(clean.read("t").collect())
    assert stripped._stored_fingerprints(stripped._manifest_doc("t", v)) \
        == clean._stored_fingerprints(clean._manifest_doc("t", v))
    _assert_manifest_matches_scan(stripped, "t")
    # stored from now on: the same content again commits nothing
    stripped.overwrite_versioned("t", stripped.read("t"))
    assert stripped.current_version("t") == v


def test_table_without_stored_schema_is_upgraded_once(spark, tmp_path):
    """A table as written before schemas and fingerprints were stored
    (no ``schema`` in ``_meta.json``, no ``fps`` in its manifest):
    ``init_versioned`` stores the declared schema and recommits the
    table once, every bucket rewritten with its fingerprint and row
    count; a second ``init_versioned`` does nothing."""
    from greenplum_dwh_spark.tablestore import TableStore

    schema, base = _kv_table(spark)
    store = TableStore(spark, str(tmp_path))
    store.init_versioned("t", schema, key_col="k")
    store.overwrite_versioned("t", base)
    v = store.current_version("t")
    _strip(tmp_path / "t" / f"m_{v}.json", "fps")
    _strip(tmp_path / "t" / "_meta.json", "schema")

    store.init_versioned("t", schema, key_col="k")
    assert store._schema("t") == schema
    assert store.current_version("t") == v + 1
    assert set(store._manifest("t", v + 1).values()) == {v + 1}
    _assert_manifest_matches_scan(store, "t")
    assert sorted(store.read("t").collect()) == sorted(base.collect())
    store.init_versioned("t", schema, key_col="k")
    assert store.current_version("t") == v + 1


def test_versioned_reads_and_dim_counts_start_no_job(spark, three_days):
    """Opening a versioned table and counting its rows from the
    manifest start no Spark job; on every fixture day the dim counts
    ``normalize_transactions`` returns equal a fresh ``count()``."""
    from tests.job_groups import job_group

    wh, per_day = three_days
    for day, (got, want) in enumerate(per_day):
        assert got == want, day
    for name in _versioned_tables():
        with job_group(spark, "read") as jobs:
            wh.read(name)
        assert jobs == [], name
        with job_group(spark, "row_count") as jobs:
            n = wh.row_count(name)
        assert jobs == [], name
        with job_group(spark, "count") as jobs:
            assert wh.read(name).count() == n
        assert jobs, name      # the group does see a block's jobs

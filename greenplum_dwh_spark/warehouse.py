"""Warehouse facade — the DDL.sql equivalent.

Creates/holds every table of the star schema (landing, fact, 4 SCD2
dims, 4 SCD1 dims, report) over a :class:`TableStore` root directory.
"""

from __future__ import annotations

import functools

import pyspark.sql.types as T
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from greenplum_dwh_spark import schemas
from greenplum_dwh_spark.session import run_concurrently
from greenplum_dwh_spark.tablestore import TableStore

#: name -> (schema, kind); kind "append" | "versioned"
TABLES = {
    "landing": (schemas.LANDING, "append"),
    "fact_transactions": (schemas.FACT_TRANSACTIONS, "append"),
    "report": (schemas.REPORT, "append"),
    **{meta["hist"]: (meta["hist_schema"], "versioned")
       for meta in schemas.DIMENSIONS.values()},
    **{meta["scd1"]: (meta["scd1_schema"], "versioned")
       for meta in schemas.DIMENSIONS.values()},
}

FACT_PARTITION_COLS = ["trans_dt_day"]


def _stored_schema(name: str) -> T.StructType:
    """``name``'s schema as stored: the fact also carries its
    physical-only partition column."""
    schema = TABLES[name][0]
    if name == "fact_transactions":
        schema = T.StructType(
            list(schema.fields)
            + [T.StructField("trans_dt_day", T.DateType(), True)])
    return schema


#: versioned table -> natural-key column (bucket key for the
#: bucket-granular copy-on-write merge in TableStore)
DIM_KEYS = {}
for _meta in schemas.DIMENSIONS.values():
    DIM_KEYS[_meta["hist"]] = _meta["key"]
    DIM_KEYS[_meta["scd1"]] = _meta["key"]


class Warehouse:
    def __init__(self, spark: SparkSession, base_dir: str,
                 store: TableStore | None = None):
        """``store`` injects an alternative table-store backend at the
        ONE seam every ETL/mart call site goes through — the
        Delta/Iceberg slot-in point (their MERGE replaces
        ``overwrite_versioned``, their transaction log replaces the
        manifest+pointer commit, and ``row_count`` — which
        ``normalize_transactions`` calls for every dimension — sums
        the per-file ``numRecords`` statistics their log keeps, as
        this store sums its manifest).  ``tests/test_store_backends.py``
        proves the swap: the SCD golden suite runs unchanged through a
        second backend without touching ``etl/``."""
        self.spark = spark
        self.store = store or TableStore(spark, base_dir)
        self.init_all()

    def init_all(self) -> None:
        """CREATE TABLE IF NOT EXISTS for the full schema (DDL.sql).

        The tables are independent, so they are created concurrently,
        one thread each (``session.run_concurrently``); every table is
        created or has failed before this returns, and the first
        failure in ``TABLES`` order is raised."""
        def create(name: str, kind: str) -> None:
            if kind == "append":
                parts = (FACT_PARTITION_COLS
                         if name == "fact_transactions" else None)
                self.store.init_append(name, _stored_schema(name), parts)
            else:
                self.store.init_versioned(name, TABLES[name][0],
                                          key_col=DIM_KEYS[name])

        run_concurrently(self.spark, *[
            functools.partial(create, name, kind)
            for name, (_, kind) in TABLES.items()])

    # convenience accessors -----------------------------------------------
    def read(self, name: str) -> DataFrame:
        if TABLES[name][1] == "versioned":
            # Versioned dims always have a committed v=N directory after
            # init; a read failure there is real (corruption, missing
            # version dir) and MUST propagate — an empty fallback would
            # let the next overwrite_dim commit a dim holding only the
            # current batch, silently losing SCD history.
            return self.store.read(name)
        try:
            return self.store.read(name)
        except AnalysisException:
            # an empty partitioned append table has no parquet footers
            # to infer from — fall back to a typed empty DataFrame
            return self.spark.createDataFrame([], _stored_schema(name))

    def append(self, name: str, df: DataFrame) -> None:
        parts = FACT_PARTITION_COLS if name == "fact_transactions" else None
        self.store.append(name, df, parts)

    def overwrite_dim(self, name: str, df: DataFrame) -> None:
        self.store.overwrite_versioned(name, df)

    def row_count(self, name: str) -> int:
        """Rows of a versioned table, from its manifest (no Spark job)."""
        return self.store.row_count(name)

    def truncate(self, name: str) -> None:
        self.store.truncate(name, TABLES[name][0])

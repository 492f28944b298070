"""SparkSession factory with scale-oriented defaults.

The reference runs on Greenplum 4.3 (MPP postgres); its physical design
decisions (distribution keys, daily range partitions, append-only +
zlib) map onto Spark as: AQE + broadcast thresholds, parquet
partitionBy(day), columnar compression. See SURVEY.md §4.

All timestamps in the reference are timezone-naive (`timestamp` postgres
type, DDL.sql:20); we pin the session to UTC so parquet round-trips and
DuckDB oracle comparisons are deterministic.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

#: The one join-side limit: a join side whose size is at or under it
#: is broadcast, any other joins by sort-merge (:func:`join_side`), and
#: Spark's own broadcast threshold is the same number.  Dims in the
#: reference are <=101 rows and TPC-H sf0.1 region/nation/supplier are
#: tiny, so every dim join broadcasts; at 100 TB a fact side never does.
#: 128 MiB broadcasts the near-dup set indexes at the derived sf1 (the
#: minhash index's filled cache reads 71 MB there), where a sort-merge
#: verify would ship one shingle array per candidate row; past it
#: (sf10: ~10x that) they join by sort-merge.
BROADCAST_LIMIT_BYTES = 128 * 1024 * 1024

#: Defaults chosen for local[32] testing but expressed so they transfer
#: to a 1000-executor cluster: AQE handles post-shuffle coalescing and
#: skew splitting at any scale; shuffle.partitions is only the *initial*
#: number under AQE.
_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(BROADCAST_LIMIT_BYTES),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.parquet.compression.codec": "zstd",
    # timestamp[ns] parquet (events table): Spark has no ns timestamp —
    # read as long and convert to micros in the loader (sources/tpch.py)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
    # PySpark 4 captures a Python call-site traceback on EVERY Column/
    # DataFrame method for richer error messages; on expression-heavy
    # plans (64-perm minhash, 60-bit simhash pack) that is ~40% of the
    # driver-side plan-construction wall (profiled: errors.utils
    # wrapper 2.0 s of dedup_simhash's 2.7 s build).  Purely
    # diagnostic metadata — disabling changes no query result at any
    # scale, only the error-message decoration.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "greenplum_dwh_spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset) for tests/bench; on a real cluster pass None and let
    spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    # Python workers must be able to unpickle applyInPandas closures
    # that reference this package regardless of the driver's cwd. For
    # local mode the workers inherit PYTHONPATH from the driver env;
    # on a real cluster ship a wheel via --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pypath if pypath else ""))
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def row_bytes(df: DataFrame) -> int:
    """Spark's default width of one row of ``df`` (8 B a long, 20 B a
    string, one element an array, ...): the width a row-count bound
    multiplies to estimate a side's bytes.  It undercounts long strings
    and arrays, so a size made with it is an estimate, not a bound.
    Reads the schema only, so it starts no job."""
    return int(df._jdf.schema().defaultSize())


def join_side(df: DataFrame, size_bytes: int) -> DataFrame:
    """``df`` as one side of a join, its strategy fixed from its size:
    broadcast at or under :data:`BROADCAST_LIMIT_BYTES`, else
    sort-merge.  Both are hints, so AQE cannot swap the build side or
    turn a sort-merge join into a broadcast at run time: one code path
    runs one executed plan.  The size comes from what the caller
    already knows (a filled cache's measured bytes, or a row-count
    bound from a manifest or an aggregate the caller runs anyway, times
    :func:`row_bytes`), never from Catalyst's estimates, which read a
    97-row aggregate as 7.7 MB."""
    if size_bytes <= BROADCAST_LIMIT_BYTES:
        return F.broadcast(df)
    return df.hint("merge")


def run_concurrently(spark: SparkSession, *thunks) -> None:
    """Call the thunks concurrently, on as many threads as thunks.

    Each thread inherits the caller's Spark local properties and tags
    (job group included), so the jobs a thunk starts are attributed as
    if the caller had run it.  Every thunk runs to its end before this
    returns; the first failure in submission order is then re-raised,
    so nothing a thunk started is still running when the caller sees
    it."""
    def inherit(thunk):
        # one wrapper per thunk: each copies the caller's properties, so
        # a thread that sets its own job group does not set it for the
        # others.  With pinned-thread mode off (PYSPARK_PIN_THREAD=false)
        # pyspark hands the session back instead, and local properties
        # are not tied to Python threads: there is nothing to carry over
        wrap = inheritable_thread_target(spark)
        return thunk if wrap is spark else wrap(thunk)

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
    for f in futures:
        f.result()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()

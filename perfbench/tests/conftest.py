from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="session")
def spark():
    from greenplum_dwh_spark.session import get_spark
    return get_spark("perfbench-tests", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })


@pytest.fixture()
def run(spark, tmp_path):
    import workloads
    from spans import Tracer
    return workloads.Run(spark, Tracer(spark.sparkContext, False),
                         str(tmp_path), os.getpid())

"""A process that dies between the steps of a versioned commit
(``TableStore.overwrite_versioned`` / ``_commit``): after the bucket
dirs are moved in, after the manifest is written, after the pointer
flips, and in the middle of the vacuum.  Reopening the store on the
same root and rerunning the merge must leave the rows and row count of
a clean run, and the next commit must leave the same bucket dirs."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import types as T

from greenplum_dwh_spark import tablestore
from greenplum_dwh_spark.tablestore import TableStore

SCHEMA = T.StructType([T.StructField("k", T.LongType()),
                       T.StructField("v", T.StringType())])

#: three commits before the merge under test: every key's value
#: changes in the second, so the merge's vacuum has whole versions of
#: bucket dirs to delete
HISTORY = [[(k, f"a{k}") for k in range(40)],
           [(k, f"b{k}") for k in range(40)]]
#: the merge under test: updates, deletes (k 30-39) and inserts
MERGE = [(k, f"c{k}" if k < 10 else f"b{k}") for k in range(30)] \
    + [(k, f"c{k}") for k in range(50, 60)]
#: the commit after it, which vacuums what a crash left behind
NEXT = [(k, f"d{k}") for k in range(0, 60, 2)]


class Crash(Exception):
    pass


def _store(spark, root: str) -> TableStore:
    st = TableStore(spark, root)
    st.init_versioned("t", SCHEMA, "k")
    for rows in HISTORY:
        st.overwrite_versioned("t", spark.createDataFrame(rows, SCHEMA))
    return st


def _state(st: TableStore) -> tuple:
    return sorted(tuple(r) for r in st.read("t").collect()), \
        st.row_count("t")


def _bucket_dirs(root: str) -> set[str]:
    top = os.path.join(root, "t")
    return {f"{b}/{v}" for b in os.listdir(top) if b.startswith("b=")
            for v in os.listdir(os.path.join(top, b))}


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    """What a run without a crash leaves: state after the merge, then
    state and bucket dirs after the next commit."""
    root = str(tmp_path_factory.mktemp("clean"))
    st = _store(spark, root)
    st.overwrite_versioned("t", spark.createDataFrame(MERGE, SCHEMA))
    merged = _state(st)
    st.overwrite_versioned("t", spark.createDataFrame(NEXT, SCHEMA))
    return merged, _state(st), _bucket_dirs(root)


def _crash_after_moves(monkeypatch):
    real = shutil.rmtree

    def rmtree(path, *a, **kw):
        if "_stage_v=" in str(path):     # every bucket dir is moved in
            raise Crash(path)
        return real(path, *a, **kw)
    monkeypatch.setattr(tablestore.shutil, "rmtree", rmtree)


def _crash_before_flip(monkeypatch):
    real = os.replace

    def replace(src, dst):
        if str(dst).endswith(tablestore._POINTER):  # manifest written
            raise Crash(dst)
        return real(src, dst)
    monkeypatch.setattr(tablestore.os, "replace", replace)


def _crash_after_flip(monkeypatch):
    def vacuum(self, name, version):
        raise Crash(name)
    monkeypatch.setattr(TableStore, "_vacuum", vacuum)


def _crash_mid_vacuum(monkeypatch):
    real_vacuum, real_rmtree = TableStore._vacuum, shutil.rmtree
    deleted = []

    def rmtree(path, *a, **kw):
        if deleted:                      # one dead dir is gone
            raise Crash(path)
        deleted.append(path)
        return real_rmtree(path, *a, **kw)

    def vacuum(self, name, version):
        monkeypatch.setattr(tablestore.shutil, "rmtree", rmtree)
        real_vacuum(self, name, version)
    monkeypatch.setattr(TableStore, "_vacuum", vacuum)


@pytest.mark.parametrize("crash", [_crash_after_moves, _crash_before_flip,
                                   _crash_after_flip, _crash_mid_vacuum])
def test_rerun_after_a_crash_inside_a_commit_equals_a_clean_run(
        spark, tmp_path, monkeypatch, clean, crash):
    merged, after_next, dirs = clean
    root = str(tmp_path / "wh")
    st = _store(spark, root)
    with monkeypatch.context() as m:
        crash(m)
        with pytest.raises(Crash):
            st.overwrite_versioned(
                "t", spark.createDataFrame(MERGE, SCHEMA))
    st = TableStore(spark, root)                 # the restarted process
    st.overwrite_versioned("t", spark.createDataFrame(MERGE, SCHEMA))
    assert _state(st) == merged
    st.overwrite_versioned("t", spark.createDataFrame(NEXT, SCHEMA))
    assert _state(st) == after_next
    assert _bucket_dirs(root) == dirs

"""CLONE (Delta CREATE TABLE [SHALLOW|DEEP] CLONE) and DESCRIBE DETAIL.

Shallow clone = hardlinked immutable segment files: creation is O(files)
metadata ops with zero data copy, both tables then evolve independently,
and vacuum/compact on one side never breaks the other (refcounts keep
shared bytes alive). Deep clone = real copies. The clone carries stats,
bloom sidecars, live deletion vectors, key, and CHECK constraints from
the pinned source version."""

from __future__ import annotations

import os

import pytest

from lakehouse_spark.mutation.store import (
    ConstraintViolationError,
    TableStore,
)


@pytest.fixture()
def store(spark, tmp_path):
    s = TableStore(
        spark, str(tmp_path / "src"), key="id", stats_cols=("x",)
    )
    s.init(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, v string, x long"
        )
    )
    s.append(
        spark.createDataFrame([(3, "c", 30)], "id long, v string, x long")
    )
    return s


def _ids(df):
    return sorted(r.id for r in df.collect())


def _a_data_file(root, seg):
    for dirpath, _d, files in os.walk(os.path.join(root, seg)):
        for fn in files:
            if fn.endswith(".parquet"):
                return os.path.join(dirpath, fn)
    raise AssertionError("no parquet file in segment")


def test_shallow_clone_zero_copy_and_equal(spark, store, tmp_path):
    c = store.clone(str(tmp_path / "c"))
    assert _ids(c.read()) == [1, 2, 3]
    assert c.current_version() == 0
    # zero-copy: the clone's data file IS the source's (hardlink count 2)
    f = _a_data_file(c.root, c._segments(0)[0])
    assert os.stat(f).st_nlink >= 2
    # provenance + carried stats
    d = c.detail()
    assert d["meta"]["cloned_from"] == store.root
    assert d["segments_with_stats"] == d["num_segments"] > 0
    # stats-based pruning still works on the clone
    assert _ids(c.read(predicate={"x": (25, None)})) == [3]


def test_deep_clone_copies(spark, store, tmp_path):
    c = store.clone(str(tmp_path / "d"), deep=True)
    assert _ids(c.read()) == [1, 2, 3]
    f = _a_data_file(c.root, c._segments(0)[0])
    assert os.stat(f).st_nlink == 1


def test_clone_pinned_version(spark, store, tmp_path):
    c = store.clone(str(tmp_path / "v0"), version=0)
    assert _ids(c.read()) == [1, 2]


def test_divergence_and_vacuum_safety(spark, store, tmp_path):
    c = store.clone(str(tmp_path / "c"))
    c.append(
        spark.createDataFrame([(9, "z", 90)], "id long, v string, x long")
    )
    assert _ids(c.read()) == [1, 2, 3, 9]
    assert _ids(store.read()) == [1, 2, 3]  # source untouched
    # clone compacts + vacuums away the shared segments on ITS side
    c.compact()
    c.vacuum(keep_last=1)
    assert _ids(c.read()) == [1, 2, 3, 9]
    # the source still reads fine: hardlinked bytes survive the clone's sweep
    assert _ids(store.read()) == [1, 2, 3]
    # and the reverse: source mutates, clone unaffected
    store.delete_keys(spark.createDataFrame([(1,)], "id long"))
    assert _ids(store.read()) == [2, 3]
    assert _ids(c.read()) == [1, 2, 3, 9]


def test_clone_carries_dv_and_constraints(spark, store, tmp_path):
    store.add_constraint("x_pos", "x > 0")
    store.delete_keys(
        spark.createDataFrame([(2,)], "id long"), mode="dv"
    )
    c = store.clone(str(tmp_path / "c"))
    assert _ids(c.read()) == [1, 3]  # dv mask carried
    with pytest.raises(ConstraintViolationError):
        c.append(
            spark.createDataFrame(
                [(8, "h", -8)], "id long, v string, x long"
            )
        )


def test_clone_with_live_dv_changes_at_version_zero(spark, tmp_path):
    """A clone's version 0 carries the source's live deletion vectors, so
    it is neither an append nor a diff against a predecessor: its change
    feed is exactly its visible rows, as inserts."""
    src = TableStore(spark, str(tmp_path / "src"), key="id")
    src.init(spark.range(6).selectExpr("id"))
    src.delete_keys(spark.createDataFrame([(2,)], "id long"), mode="dv")
    c = src.clone(str(tmp_path / "c"), version=src.current_version())
    rows = c.changes(0, 0).collect()
    assert sorted(r.id for r in rows) == [0, 1, 3, 4, 5]
    assert {(r._change_type, r._commit_version) for r in rows} == {
        ("insert", 0)
    }


def test_clone_target_must_not_exist(spark, store, tmp_path):
    store.clone(str(tmp_path / "c"))
    with pytest.raises(ValueError, match="already a table"):
        store.clone(str(tmp_path / "c"))


def test_detail_shape(spark, store):
    d = store.detail()
    assert d["version"] == 1
    assert d["num_segments"] == 2
    assert d["key"] == "id"
    assert d["size_bytes"] > 0
    assert d["num_data_files"] >= 2
    assert d["stats_columns"] == ["x"]

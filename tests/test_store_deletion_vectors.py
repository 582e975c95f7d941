"""Deletion vectors (TableStore.delete_keys(mode='dv')): merge-on-read
deletes — the commit writes only the deleted rows' pre-images, reads
anti-join them against exactly the segments live at delete time, and
compaction folds them away. The Delta deletion-vector cost shape: DELETE
is O(deleted rows), not an O(table) rewrite."""

from __future__ import annotations

import json
import os

import pytest

from lakehouse_spark.mutation.store import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    s = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("x",), write_cdf=True
    )
    s.init(
        spark.createDataFrame(
            [(1, "a", 1), (2, "b", 2), (3, "c", 3), (4, "d", 4)],
            "id long, v string, x long",
        )
    )
    return s


def _ids(df):
    return sorted(r.id for r in df.collect())


def _keys(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_dv_delete_masks_without_rewriting(spark, store):
    segs_before = store._segments(store.current_version())
    removed = store.delete_keys(_keys(spark, 2, 3), mode="dv")
    assert removed == 2
    assert store.commit_kind(1) == ("delete_dv", ["_dv000001"])
    # segments untouched — the table was NOT rewritten
    assert store._segments(1) == segs_before
    assert _ids(store.read()) == [1, 4]
    # parity with the rewrite path's semantics
    assert _ids(store.read()) == _ids(
        store.read(0).join(_keys(spark, 2, 3), "id", "left_anti")
    )
    # time travel is unaffected
    assert _ids(store.read(0)) == [1, 2, 3, 4]


def test_dv_reinserted_key_resurrects(spark, store):
    store.delete_keys(_keys(spark, 2), mode="dv")
    store.append(spark.createDataFrame([(2, "B", 9)], "id long, v string, x long"))
    got = {r.id: r.v for r in store.read().collect()}
    assert got[2] == "B", "a key re-inserted after a dv delete must come back"
    # and the old masked row stays masked (no duplicate id 2)
    assert sorted(got) == [1, 2, 3, 4]


def test_dv_changes_feed_and_mview_sign(spark, store):
    store.delete_keys(_keys(spark, 2, 3), mode="dv")
    feed = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in store.changes(1, 1).collect()
    )
    assert feed == [(1, "delete", 2), (1, "delete", 3)]
    assert store.has_cdf(1)  # servable without materialization


def test_dv_predicate_read_stays_exact(spark, store):
    store.delete_keys(_keys(spark, 2), mode="dv")
    pruned = store.read(predicate={"x": (2, 3)})
    full = store.read().filter("x >= 2 and x <= 3")
    assert _ids(pruned) == _ids(full) == [3]


def test_dv_compact_folds_and_restore_pins(spark, store):
    store.delete_keys(_keys(spark, 2, 3), mode="dv")  # v1
    store.compact()  # v2: rewrite folds the dv in
    assert store._snapshot(2)["dv"] == {}
    assert _ids(store.read()) == [1, 4]
    # restore to v0 resurrects the deleted keys (dv pinned per version)
    store.restore(0)
    assert _ids(store.read()) == [1, 2, 3, 4]
    # restore back to the dv version re-applies the mask
    store.restore(1)
    assert _ids(store.read()) == [1, 4]


def test_dv_stacked_vectors_and_null_keys(spark, store):
    store.append(
        spark.createDataFrame(
            [(None, "n", 7)], "id long, v string, x long"
        )
    )
    store.delete_keys(_keys(spark, 1), mode="dv")
    store.delete_keys(_keys(spark, 4), mode="dv")
    got = sorted(
        (r.id if r.id is not None else -1) for r in store.read().collect()
    )
    # both dvs apply; the NULL-key row survives (NULL never equi-matches)
    assert got == [-1, 2, 3]


def test_dv_vacuum_keeps_referenced_vectors(spark, store):
    store.delete_keys(_keys(spark, 2), mode="dv")  # v1 writes _dv000001
    for i in range(4):
        store.append(
            spark.createDataFrame([(50 + i, "f", 1)], "id long, v string, x long")
        )
    store.vacuum(keep_last=2)
    # head manifests still reference the dv → the file must survive
    assert os.path.isdir(os.path.join(store.root, "_dv000001"))
    assert _ids(store.read())[:3] == [1, 3, 4]
    # after compaction + vacuum the dv is unreferenced → swept
    store.compact()
    store.vacuum(keep_last=1)
    assert not os.path.isdir(os.path.join(store.root, "_dv000001"))


def test_dv_datasource_read_and_stream(spark, store, tmp_path):
    import time

    from lakehouse_spark.sources.table_source import LakehouseDataSource

    spark.dataSource.register(LakehouseDataSource)
    store.delete_keys(_keys(spark, 2, 3), mode="dv")
    df = spark.read.format("lakehouse").load(store.root)
    assert _ids(df) == [1, 4]
    # pushdown path agrees too — fresh load per filter set (reusing one
    # relation across different filters is the aliasing misuse the reader
    # raises on since round 12, test_datasource_push_aliasing_guard.py)
    df_f = spark.read.format("lakehouse").load(store.root)
    assert _ids(df_f.filter("x >= 1")) == [1, 4]
    ch = spark.read.format("lakehouse").option("changes", "true").load(store.root)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"]) for r in ch.collect()
    )
    assert got == sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in store.changes(0).collect()
    )
    # streaming CDF delivers the dv deletes
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("lakehouse")
        .option("changes", "true")
        .load(store.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.monotonic() + 90
    n = 0
    try:
        while n < 6 and time.monotonic() < deadline:
            time.sleep(0.5)
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
    finally:
        q.stop()
        q.awaitTermination(30)
    sgot = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in spark.read.parquet(out).collect()
    )
    assert sgot == got


def test_dv_delete_keys_applies_to_scoped_by_key_stats(spark, tmp_path):
    """delete_keys(mode='dv') scopes applies_to to the segments whose KEY
    stats overlap the deleted key set (like delete_where/upsert dv): the
    mask is never tested against provably key-free segments, the commit
    record stays O(touched), and rows of the same keys appended later
    still resurrect (new segments are outside applies_to)."""
    st = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("id",)
    )
    st.init(spark.range(10).selectExpr("id", "id * 2 AS val"))
    st.append(spark.range(100, 110).selectExpr("id", "id * 2 AS val"))
    st.append(spark.range(200, 210).selectExpr("id", "id * 2 AS val"))
    removed = st.delete_keys(
        spark.range(100, 103).selectExpr("id"), mode="dv"
    )
    assert removed == 3
    m = st._snapshot(st.current_version())
    (applies_to,) = m["dv"].values()
    # Only the middle segment's key range [100, 109] overlaps the set.
    assert len(applies_to) == 1
    assert st.read().count() == 27
    # Re-inserted keys land outside applies_to and resurrect.
    st.append(spark.range(100, 103).selectExpr("id", "id * 9 AS val"))
    assert st.read().count() == 30
    assert st.read().filter("id = 101 AND val = 909").count() == 1


def _two_dv_store(spark, tmp_path, root="j"):
    """Keys 0..19 in one segment, keys 3 and 7 masked by two live dvs."""
    st = TableStore(spark, str(tmp_path / root), key="id", stats_cols=("id",))
    st.init(spark.range(20).selectExpr("id", "id * 2 AS x"))
    st.delete_keys(_keys(spark, 3), mode="dv")
    st.delete_keys(_keys(spark, 7), mode="dv")
    assert len(st._snapshot(st.current_version())["dv"]) == 2
    return st


def test_dv_delete_keys_job_count_with_live_dvs(spark, tmp_path, count_jobs):
    """The key set enters once as a broadcast LocalRelation, the deleted
    rows are evaluated once (key collection and dv write share a
    persisted frame), and the live dvs' keys come from the writer's key
    cache: 7 jobs with two live dvs (the distributed key set, re-derived
    per use, ran 13)."""
    st = _two_dv_store(spark, tmp_path)
    n, removed = count_jobs(
        lambda: st.delete_keys(_keys(spark, 11), mode="dv")
    )
    assert removed == 1
    assert n <= 7
    assert sorted(r.id for r in st.read().collect()) == [
        i for i in range(20) if i not in (3, 7, 11)
    ]


def test_dv_point_read_folds_dv_keys_away(spark, tmp_path, count_jobs):
    """A key filter folds into the dv key relations: a point read on a key
    no live dv holds drops the anti-joins and runs one job (the scan)."""
    st = _two_dv_store(spark, tmp_path)
    from pyspark.sql import functions as F

    n, rows = count_jobs(
        lambda: st.read().filter(F.col("id") == 15).collect()
    )
    assert [(r.id, r.x) for r in rows] == [(15, 30)]
    assert n == 1
    n, rows = count_jobs(lambda: st.read().filter(F.col("id") == 3).collect())
    assert rows == []


def test_dv_key_cache_reader_instance_and_pruning(spark, tmp_path, count_jobs):
    """A second instance reads each dv's keys from disk once, then serves
    them from its cache; compaction folds the dvs and the cache follows
    the live dv names."""
    st = _two_dv_store(spark, tmp_path)
    want = [i for i in range(20) if i not in (3, 7)]
    reader = TableStore(spark, st.root, key="id")
    n_cold, df = count_jobs(reader.read)
    assert n_cold == 2  # one key read per dv, while planning
    assert set(reader._dv_key_cache) == {"_dv000001", "_dv000002"}
    n_warm, df = count_jobs(reader.read)
    assert n_warm == 0
    assert sorted(r.id for r in df.collect()) == want
    st.compact()
    assert sorted(r.id for r in reader.read().collect()) == want
    assert reader._dv_key_cache == {}

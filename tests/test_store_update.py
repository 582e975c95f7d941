"""UPDATE (Delta's UPDATE ... SET ... WHERE): expression updates with file
skipping via the read-predicate, merge-on-read via deletion vectors,
generated-column recompute, and snapshot-conflict safety."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.mutation.store import TableStore


def _mk(spark, tmp_path, **kw):
    store = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("id",), **kw
    )
    store.init(
        spark.createDataFrame(
            [(i, i * 10, "new") for i in range(100)],
            "id long, x long, status string",
        )
    )
    for lo in (100, 200):
        store.append(
            spark.createDataFrame(
                [(i, i * 10, "new") for i in range(lo, lo + 100)],
                "id long, x long, status string",
            )
        )
    return store


def _manifest(store):
    # Round 9: manifests are per-commit deltas; assertions run against the
    # MATERIALIZED snapshot (segments/stats/dv/partitions as readers see them).
    return store._snapshot(store.current_version())


def test_update_expressions_and_count(spark, tmp_path):
    store = _mk(spark, tmp_path)
    n = store.update(
        {"x": "x + 1", "status": "'done'"}, where="id % 2 = 0",
        predicate={"id": (0, 49)},
    )
    assert n == 25
    rows = {r.id: (r.x, r.status) for r in store.read().collect()}
    assert rows[4] == (41, "done")
    assert rows[5] == (50, "new")
    assert rows[150] == (1500, "new")
    assert store.read().count() == 300


def test_update_predicate_skips_untouched_segments(spark, tmp_path):
    store = _mk(spark, tmp_path)
    before = set(_manifest(store)["segments"])
    store.update({"status": "'hot'"}, predicate={"id": (250, 260)})
    m = _manifest(store)
    # the two untouched id-range segments are reused by reference
    assert len(before & set(m["segments"])) == 2
    assert store.read().filter(F.col("status") == "hot").count() == 11


def test_update_dv_mode_rewrites_nothing(spark, tmp_path):
    store = _mk(spark, tmp_path)
    before = set(_manifest(store)["segments"])
    n = store.update(
        {"x": "x * 2"}, where="id < 3", predicate={"id": (0, 2)}, mode="dv"
    )
    assert n == 3
    m = _manifest(store)
    assert before <= set(m["segments"])  # zero rewrites
    assert m["dv"]  # mask carries the old images
    got = {r.id: r.x for r in store.read().filter(F.col("id") < 3).collect()}
    assert got == {0: 0, 1: 20, 2: 40}
    assert store.read().count() == 300


def test_update_recomputes_generated_columns(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "g"), key="id")
    store.init(
        spark.createDataFrame([(1, 5, 10)], "id long, a long, a2 long"),
    )
    store.set_generated("a2", "a * 2")
    store.update({"a": "a + 1"}, where="id = 1")
    row = store.read().collect()[0]
    assert (row.a, row.a2) == (6, 12)
    with pytest.raises(ValueError, match="generated"):
        store.update({"a2": "99"})


def test_update_guards(spark, tmp_path):
    store = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="key column"):
        store.update({"id": "id + 1"})
    with pytest.raises(KeyError):
        store.update({"nope": "1"})
    # zero matches: no commit at all
    v = store.current_version()
    assert store.update({"x": "0"}, where="id = -1") == 0
    assert store.current_version() == v


def test_update_on_partitioned_table(spark, tmp_path):
    store = TableStore(
        spark, str(tmp_path / "p"), key="id", partition_by=("day",)
    )
    store.init(
        spark.createDataFrame(
            [(i, f"d{i % 2}", 0) for i in range(10)],
            "id long, day string, x long",
        )
    )
    n = store.update({"x": "7"}, where="day = 'd1'", predicate={"day": "d1"})
    assert n == 5
    assert store.read().filter(F.col("x") == 7).count() == 5
    # still one segment per partition value among the post-image writes
    m = _manifest(store)
    days = [p["day"] for p in m["partitions"].values()]
    assert "d0" in days and "d1" in days


def test_update_pruned_to_pre_evolution_segment_keeps_schema(spark, tmp_path):
    """A predicate that prunes the matched read to segments PREDATING an
    evolved column must still produce post-images carrying that column
    (null) — previously the rewrite failed to resolve it (round-12
    regression found while testing schema backfill; delete paths always
    aligned via _aligned_base, update() used the raw pruned read)."""
    store = TableStore(
        spark, str(tmp_path / "e"), key="id", stats_cols=("id",)
    )
    store.init(spark.range(5).selectExpr("id", "id AS x"))
    store.append(spark.range(5, 10).selectExpr("id", "id AS x", "'n' AS note"))
    n = store.update(
        set={"x": "x + 100"}, predicate={"id": (1, 1)}, where="id = 1"
    )
    assert n == 1
    got = {(r.id, r.x, r.note) for r in store.read().collect()}
    assert (1, 101, None) in got
    assert (7, 7, "n") in got  # evolved column intact in untouched rows
    assert len(got) == 10


@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_update_spares_unmatched_rows_of_a_repeating_key(spark, tmp_path, mode):
    """The lake's events/messages shape: many rows per key. An UPDATE
    whose WHERE matches one row of a key must leave the key's other rows
    alone — rewrite mode is row-exact; dv mode masks by key, so it raises
    instead (and commits nothing). Both modes used to upsert the
    post-images, whose key anti-join dropped the spared sibling rows."""
    store = TableStore(spark, str(tmp_path / "k"), key="sid")
    rows = [("s1", 1, "a"), ("s1", 2, "b"), ("s2", 3, "c")]
    store.init(spark.createDataFrame(rows, "sid string, eid long, v string"))
    v = store.current_version()
    if mode == "dv":
        with pytest.raises(ValueError, match="SOME rows"):
            store.update({"v": "'X'"}, where="eid = 1", mode="dv")
        assert store.current_version() == v
        # a WHERE that matches whole keys is fine in dv mode
        assert store.update({"v": "'Y'"}, where="eid = 3", mode="dv") == 1
        rows[2] = ("s2", 3, "Y")
    else:
        assert store.update({"v": "'X'"}, where="eid = 1") == 1
        rows[0] = ("s1", 1, "X")
    assert sorted(tuple(r) for r in store.read().collect()) == rows

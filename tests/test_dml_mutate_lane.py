"""Round-11 verdict ask #1: DML metadata is O(affected), not O(table).

Rewrite-mode DML (delete_where / delete_keys / upsert / merge /
overwrite_where) now commits through the MUTATE lane
(manifest.py::_commit_mutate): the head mirror's ordered segment dict
evolves in place, the on-disk commit record is a delta manifest listing
exactly the removed/added segments, and file selection goes through the
two-level checkpoint's shard bounds (dml.py::_dml_manifest). These tests
pin the semantics; the flatness numbers live in bench.py's
manifest_plane["dml_o_affected"] section.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.mutation import manifest as M
from lakehouse_spark.mutation.manifest import ConcurrentWriteError
from lakehouse_spark.mutation.store import TableStore


def _clustered(spark, path, n=100, seg_rows=20):
    """A key-clustered table: disjoint id ranges per segment."""
    st = TableStore(spark, str(path), key="id", stats_cols=("id",))
    st.init(spark.range(0, seg_rows).selectExpr("id", "id AS x"))
    for lo in range(seg_rows, n, seg_rows):
        st.append(spark.range(lo, lo + seg_rows).selectExpr("id", "id AS x"))
    return st


def test_targeted_delete_writes_delta_manifest(spark, tmp_path):
    """A 1-segment-targeted DELETE commits a DELTA doc naming exactly the
    touched segment — not a full manifest — and a cold reader replays it
    to the same state."""
    st = _clustered(spark, tmp_path / "t")
    v0 = st.current_version()
    segs0 = st._snapshot(v0)["segments"]
    removed = st.delete_where(predicate={"id": (25, 30)})
    assert removed == 6
    v1 = st.current_version()
    raw = M.read_manifest_file(str(tmp_path / "t"), v1)
    assert raw.get("delta") == 1
    assert len(raw["remove"]) == 1  # only the one segment holding 25..30
    assert raw["remove"][0] in segs0
    # Cold reader: same rows, same order-of-segments semantics.
    fresh = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    got = sorted(r.id for r in fresh.read().collect())
    assert got == [i for i in range(100) if not (25 <= i <= 30)]
    # Untouched segments rode by reference: same names, same order.
    segs1 = fresh._snapshot(v1)["segments"]
    kept = [s for s in segs0 if s != raw["remove"][0]]
    assert segs1[: len(kept)] == kept


def test_dv_unset_when_masked_segments_rewritten(spark, tmp_path):
    """A dv masking only segments a later rewrite drops is UNSET in that
    commit's delta (found via the head's reverse index), and reads agree
    cold and warm."""
    st = _clustered(spark, tmp_path / "t")
    # dv-delete keys 40..44: masks only the 40..59 segment.
    st.delete_keys(spark.range(40, 45).selectExpr("id"), mode="dv")
    v_dv = st.current_version()
    dvs = st._snapshot(v_dv)["dv"]
    assert len(dvs) == 1
    (dv_name,) = dvs
    masked = dvs[dv_name]
    # Rewrite-delete the remaining rows of every masked segment: the dv
    # becomes inert and the commit must unset it.
    st.delete_where(predicate={"id": (45, 59)})
    v1 = st.current_version()
    raw = M.read_manifest_file(str(tmp_path / "t"), v1)
    assert raw.get("delta") == 1
    assert dv_name in raw.get("dv_unset", [])
    assert set(raw["remove"]) == set(masked)
    assert st._snapshot(v1)["dv"] == {}
    got = sorted(r.id for r in st.read().collect())
    assert got == [i for i in range(100) if not (40 <= i <= 59)]
    fresh = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    assert sorted(r.id for r in fresh.read().collect()) == got


def test_dv_kept_while_any_masked_segment_lives(spark, tmp_path):
    """A dv masking two segments survives a rewrite that drops only one of
    them (the any-live rule), and keeps masking its rows."""
    st = _clustered(spark, tmp_path / "t")
    # Mask keys in two different segments with one dv.
    st.delete_keys(
        spark.createDataFrame([(5,), (25,)], "id long"), mode="dv"
    )
    v = st.current_version()
    (dv_name,) = st._snapshot(v)["dv"]
    # Rewrite only the first masked segment's range.
    st.delete_where(predicate={"id": (0, 19)})
    v1 = st.current_version()
    snap = st._snapshot(v1)
    assert dv_name in snap["dv"]
    got = sorted(r.id for r in st.read().collect())
    assert got == [i for i in range(20, 100) if i != 25]


def test_mutate_stale_removal_raises_and_releases_slot(spark, tmp_path):
    st = _clustered(spark, tmp_path / "t", n=40)
    with pytest.raises(ConcurrentWriteError, match="not live"):
        st._transact(
            None, mutate_make=(["_seg999999"], lambda v: [])
        )
    # Slot released: a normal append still commits.
    v = st.current_version()
    st.append(spark.range(200, 201).selectExpr("id", "id AS x"))
    assert st.current_version() == v + 1


def test_schema_cache_carries_across_dml_and_rebuilds_on_evolve(
    spark, tmp_path
):
    st = _clustered(spark, tmp_path / "t", n=60)
    v0 = st.current_version()
    # Prime the cache via a DML statement.
    st.delete_where(predicate={"id": (0, 4)})
    cached = st._schema_cache
    assert cached[0] == st.current_version()
    schema_obj = cached[1]
    # A second DML carries the SAME schema object forward (no rebuild).
    st.delete_where(predicate={"id": (5, 9)})
    assert st._schema_cache[0] == st.current_version()
    assert st._schema_cache[1] is schema_obj
    # merge with evolve widens the schema and must invalidate the cache.
    src = spark.createDataFrame([(10, 10, "n")], "id long, x long, extra string")
    st.merge(src, extra_cols="evolve")
    assert getattr(st, "_schema_cache", None) is None or (
        st._schema_cache[1] is not schema_obj
    )
    row = st.read().filter(F.col("id") == 10).collect()[0]
    assert row.extra == "n"
    # Post-evolve DML sees the widened schema (rebuilt from segments).
    st.delete_where(predicate={"id": (10, 10)})
    assert "extra" in [
        f.name for f in st._logical_schema(st.current_version(), None).fields
    ]


def test_append_schema_union_carry(spark, tmp_path):
    """An append introducing a new column rolls the cached schema forward
    by UNION (no O(table) rebuild, no stale schema)."""
    st = _clustered(spark, tmp_path / "t", n=40)
    st.delete_where(predicate={"id": (0, 0)})  # prime cache
    base_fields = {f.name for f in st._schema_cache[1].fields}
    st.append(
        spark.range(500, 502).selectExpr("id", "id AS x", "'v' AS note")
    )
    assert st._schema_cache[0] == st.current_version()
    names = {f.name for f in st._schema_cache[1].fields}
    assert names == base_fields | {"note"}
    # The carried schema matches a cold rebuild exactly.
    fresh = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    rebuilt = fresh._logical_schema(fresh.current_version(), None)
    assert {f.name for f in rebuilt.fields} == names
    # And DML alignment still reads evolved columns as null where absent.
    st.delete_keys(spark.range(500, 501).selectExpr("id"))
    got = st.read().filter(F.col("id") == 501).collect()[0]
    assert got.note == "v"


def test_dml_selection_uses_sharded_checkpoint(spark, tmp_path):
    """On a checkpointed clustered table, DML file selection plans from a
    predicate-scoped PARTIAL snapshot (fewer candidate records than the
    table has segments) and rewrites only the key-matching segment."""
    st = TableStore(
        spark,
        str(tmp_path / "t"),
        key="id",
        stats_cols=("id",),
        checkpoint_interval=4,
    )
    st.checkpoint_sync = True
    st.checkpoint_shard_size = 4
    st.init(spark.range(0, 10).selectExpr("id", "id AS x"))
    for lo in range(10, 160, 10):
        st.append(spark.range(lo, lo + 10).selectExpr("id", "id AS x"))
    st.checkpoint_barrier()
    v = st.current_version()
    n_segs = len(st._snapshot(v)["segments"])
    # Cold instance: warm SMALL snapshots deliberately skip the pruned
    # route (their in-memory selection loop is cheaper than checkpoint
    # IO); a cold planner must go through the shard bounds.
    cold = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("id",)
    )
    m = cold._dml_manifest(v, {"id": (42, 43)})
    assert m.get("pruned") is True
    assert len(m["segments"]) < n_segs
    segs_before = st._snapshot(v)["segments"]
    st.delete_keys(spark.range(42, 44).selectExpr("id"))
    raw = M.read_manifest_file(str(tmp_path / "t"), st.current_version())
    assert raw.get("delta") == 1
    assert len(raw["remove"]) == 1 and raw["remove"][0] in segs_before
    got = sorted(r.id for r in st.read().collect())
    assert got == [i for i in range(160) if i not in (42, 43)]


def test_cdf_store_dml_still_correct(spark, tmp_path):
    """write_cdf stores commit DML through the same delta writer (the
    change file is materialized pre-pointer from the restricted diff)
    with identical semantics — pre/post images intact."""
    st = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("id",), write_cdf=True
    )
    st.init(spark.range(0, 20).selectExpr("id", "id AS x"))
    st.append(spark.range(20, 40).selectExpr("id", "id AS x"))
    v0 = st.current_version()
    st.delete_where(predicate={"id": (5, 7)})
    ch = st.changes(v0 + 1, v0 + 1)
    kinds = {(r.id, r._change_type) for r in ch.collect()}
    assert kinds == {(5, "delete"), (6, "delete"), (7, "delete")}
    got = sorted(r.id for r in st.read().collect())
    assert got == [i for i in range(40) if i not in (5, 6, 7)]


def test_partitioned_optimize_writes_delta_manifest(spark, tmp_path):
    """Partition-scoped OPTIMIZE (compact with where=) commits through the
    mutate lane: only the in-scope partition's segments are removed, the
    rest stay at their manifest positions, and the commit record is a
    DELTA doc — checkpoint shard reuse survives routine layout
    maintenance."""
    from pyspark.sql import functions as F

    st = TableStore(
        spark,
        str(tmp_path / "t"),
        key="id",
        stats_cols=("id",),
        partition_by=("day",),
    )
    st.init(
        spark.range(0, 30).selectExpr(
            "id", "concat('d', CAST(id % 3 AS STRING)) AS day"
        )
    )
    # Two more appends so partition d1 holds several small segments.
    for lo in (30, 60):
        st.append(
            spark.range(lo, lo + 30).selectExpr(
                "id", "concat('d', CAST(id % 3 AS STRING)) AS day"
            )
        )
    v0 = st.current_version()
    segs0 = st._snapshot(v0)["segments"]
    parts0 = st._snapshot(v0)["partitions"]
    d1_segs = {s for s in segs0 if parts0.get(s, {}).get("day") == "d1"}
    st.compact(where={"day": "d1"})
    v1 = st.current_version()
    raw = M.read_manifest_file(str(tmp_path / "t"), v1)
    assert raw.get("delta") == 1
    assert set(raw["remove"]) == d1_segs
    # Untouched segments kept their original relative order.
    kept = [s for s in segs0 if s not in d1_segs]
    assert st._snapshot(v1)["segments"][: len(kept)] == kept
    got = sorted(
        r.id for r in st.read().filter(F.col("day") == "d1").collect()
    )
    assert got == sorted(i for i in range(90) if i % 3 == 1)
    # Full-table content identical to pre-compact.
    assert st.read().count() == 90


def test_full_replace_compact_seeds_schema_on_pre_scalar_table(
    spark, tmp_path
):
    """Whole-table compaction through the mutate lane is a FULL REPLACE:
    it seeds the schema scalar on a pre-scalar table (and resets it
    generally), matching overwrite's rule."""
    import json as _json

    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    st.init(spark.range(5).selectExpr("id", "id AS a"))
    st.append(spark.range(5, 10).selectExpr("id", "id AS a"))
    # Simulate a pre-scalar history: strip the scalar everywhere.
    for v in (0, 1):
        p = os.path.join(root, f"_manifest_{v:06d}.json")
        with open(p) as f:
            doc = _json.load(f)
        doc.pop("schema", None)
        with open(p, "w") as f:
            _json.dump(doc, f)
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    assert st._snapshot(1).get("schema") is None
    st.compact()  # full rewrite -> full replace -> seeds the scalar
    snap = st._snapshot(st.current_version())
    assert snap["schema"] is not None
    assert [f["name"] for f in snap["schema"]["fields"]] == ["id", "a"]
    assert st.read().count() == 10

    # Same through the PARTITIONED fold (the mutate-lane route).
    root2 = str(tmp_path / "p")
    st2 = TableStore(
        spark, root2, key="id", stats_cols=("id",), partition_by=("g",)
    )
    st2.init(spark.range(6).selectExpr("id", "CAST(id % 2 AS STRING) AS g"))
    st2.append(
        spark.range(6, 12).selectExpr("id", "CAST(id % 2 AS STRING) AS g")
    )
    for v in (0, 1):
        p = os.path.join(root2, f"_manifest_{v:06d}.json")
        with open(p) as f:
            doc = _json.load(f)
        doc.pop("schema", None)
        with open(p, "w") as f:
            _json.dump(doc, f)
    st2 = TableStore(
        spark, root2, key="id", stats_cols=("id",), partition_by=("g",)
    )
    assert st2._snapshot(1).get("schema") is None
    st2.compact()  # partitioned whole-table fold -> mutate lane
    raw = M.read_manifest_file(root2, st2.current_version())
    assert raw.get("delta") == 1  # the fold commits a delta doc
    snap2 = st2._snapshot(st2.current_version())
    assert snap2["schema"] is not None
    assert {f["name"] for f in snap2["schema"]["fields"]} == {"id", "g"}
    assert st2.read().count() == 12


def test_append_onto_zero_live_segments_unions_schema(spark, tmp_path):
    """An append onto a head with NO live segments removes nothing, so it
    is not a full replace: the recorded schema stays the union (a later
    append does not drop the pre-empty columns from the schema scalar),
    reads expose exactly that schema, and the writer's warm snapshot
    equals a cold replay."""
    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", partition_by=("p",))
    st.init(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, p string, z long"
        )
    )
    st.delete_where(predicate={"p": ("a", "b")})
    assert st._snapshot(st.current_version())["segments"] == []
    st.append(spark.createDataFrame([(3, "a", 30)], "id long, p string, w long"))
    v = st.current_version()
    snap = st._snapshot(v)
    names = [f["name"] for f in snap["schema"]["fields"]]
    assert names == ["id", "p", "z", "w"]
    assert st.read().columns == names
    assert M.load_snapshot(root, v) == snap


def test_overwrite_after_empty_resets_schema_scalar(spark, tmp_path):
    """Full replace of a ZERO-segment table must still reset the schema
    scalar (no phantom columns from the pre-empty history): an overwrite
    removes every prior segment — all none of them — so, unlike the
    append above, it records exactly the schema it wrote."""
    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", partition_by=("p",))
    st.init(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id long, p string, z long"
        )
    )
    st.delete_where(predicate={"p": ("a", "b")})
    assert st._snapshot(st.current_version())["segments"] == []
    st.overwrite(
        spark.createDataFrame([(3, "a", 30)], "id long, p string, w long")
    )
    v = st.current_version()
    snap = st._snapshot(v)
    names = [f["name"] for f in snap["schema"]["fields"]]
    assert names == ["id", "p", "w"]
    assert st.read().columns == names
    assert M.load_snapshot(root, v) == snap

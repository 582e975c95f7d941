"""Round-11 verdict ask #4: the data source's cold plan no longer
full-parses the checkpoint or walks every segment's parquet footer.

Two pieces pinned here:
- the manifest's new ``schema`` scalar plane (recorded at write time,
  union-forward across appends/DML, reset by full-replace commits, pinned
  by restore/clone, None on pre-round-11 tables);
- the ``format("lakehouse")`` fast paths: schema from the scalar,
  scalars from the sharded list doc without parsing shards
  (load_scalars), and shard-pruned partition planning under a predicate.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.mutation.manifest import load_scalars
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.sources import table_source as TS


def _names(snap):
    return [f["name"] for f in snap["schema"]["fields"]]


def test_schema_scalar_lifecycle(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(5).selectExpr("id", "id AS x"))
    assert _names(st._snapshot(0)) == ["id", "x"]
    # Evolving append unions; the delta stops being a pure append.
    st.append(spark.range(5, 8).selectExpr("id", "id AS x", "'n' AS note"))
    assert _names(st._snapshot(1)) == ["id", "x", "note"]
    # DML (mutate lane) carries the union forward.
    st.delete_keys(spark.range(1, 2).selectExpr("id"))
    assert _names(st._snapshot(2)) == ["id", "x", "note"]
    # Full replace resets — overwrite redefines the schema.
    st.overwrite(spark.range(3).selectExpr("id", "id AS y"))
    v = st.current_version()
    assert _names(st._snapshot(v)) == ["id", "y"]
    # Restore pins the restored version's schema, not the head's.
    st.restore(version=1)
    assert _names(st._snapshot(st.current_version())) == ["id", "x", "note"]
    # Cold reader replays the same scalar.
    fresh = TableStore(spark, str(tmp_path / "t"), key="id")
    assert _names(fresh._snapshot(fresh.current_version())) == [
        "id",
        "x",
        "note",
    ]


def test_clone_pins_schema(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "a"), key="id")
    st.init(spark.range(4).selectExpr("id", "id AS x"))
    st.append(spark.range(4, 6).selectExpr("id", "id AS x", "'c' AS extra"))
    dst = st.clone(str(tmp_path / "b"))
    assert _names(dst._snapshot(dst.current_version())) == ["id", "x", "extra"]


def test_load_scalars_from_sharded_checkpoint(spark, tmp_path):
    st = TableStore(
        spark,
        str(tmp_path / "t"),
        key="id",
        stats_cols=("id",),
        checkpoint_interval=3,
    )
    st.checkpoint_sync = True
    st.checkpoint_shard_size = 2
    st.init(spark.range(3).selectExpr("id", "id AS x"))
    for lo in range(3, 18, 3):
        st.append(spark.range(lo, lo + 3).selectExpr("id", "id AS x"))
    st.rename_column("x", "val")
    st.checkpoint_barrier()
    v = st.current_version()
    sc = load_scalars(str(tmp_path / "t"), v)
    assert sc is not None and sc.get("scalars_only") is True
    assert sc["renames"] == {"x": "val"}
    assert [f["name"] for f in sc["schema"]["fields"]] == ["id", "x"]
    # The scalars-only doc must never be mistaken for a full snapshot.
    assert sc["segments"] != st._snapshot(v)["segments"]


def test_load_scalars_none_without_checkpoint(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "t"), key="id")
    st.init(spark.range(3).selectExpr("id"))
    assert load_scalars(str(tmp_path / "t"), 0) is None


def test_datasource_schema_from_scalar_matches_footers(spark, tmp_path):
    """format('lakehouse') presents the same logical schema from the
    recorded scalar as the footer-union path did — including schema
    evolution and column mapping."""
    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    st.init(spark.range(5).selectExpr("id", "id AS x"))
    st.append(spark.range(5, 8).selectExpr("id", "id AS x", "'n' AS note"))
    st.rename_column("x", "val")
    TS._SNAPSHOT_CACHE.clear()
    TS._SCALARS_CACHE.clear()
    df = spark.read.format("lakehouse").load(root)
    assert df.columns == ["id", "val", "note"]
    got = {(r.id, r.val, r.note) for r in df.collect()}
    want = {(i, i, None) for i in range(5)} | {
        (i, i, "n") for i in range(5, 8)
    }
    assert got == want


def test_datasource_schema_footer_fallback_for_old_tables(spark, tmp_path):
    """A manifest chain WITHOUT the schema scalar (pre-round-11 table)
    falls back to the footer walk, byte-identical presentation."""
    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id")
    st.init(spark.range(4).selectExpr("id", "id AS x"))
    # Strip the scalar from the manifest file to simulate an old table.
    p = os.path.join(root, "_manifest_000000.json")
    with open(p) as f:
        doc = json.load(f)
    doc.pop("schema", None)
    with open(p, "w") as f:
        json.dump(doc, f)
    st._snap_cache = {}
    TS._SNAPSHOT_CACHE.clear()
    TS._SCALARS_CACHE.clear()
    df = spark.read.format("lakehouse").load(root)
    assert df.columns == ["id", "x"]
    assert df.count() == 4


def test_datasource_pruned_partition_planning(spark, tmp_path):
    """With a predicate option on a checkpointed table, partition planning
    goes through shard pruning (only matching shards parsed) and the read
    is exact."""
    root = str(tmp_path / "t")
    st = TableStore(
        spark, root, key="id", stats_cols=("id",), checkpoint_interval=4
    )
    st.checkpoint_sync = True
    st.checkpoint_shard_size = 4
    st.init(spark.range(0, 10).selectExpr("id", "id AS x"))
    for lo in range(10, 160, 10):
        st.append(spark.range(lo, lo + 10).selectExpr("id", "id AS x"))
    st.checkpoint_barrier()
    TS._SNAPSHOT_CACHE.clear()
    TS._SCALARS_CACHE.clear()
    TS._SHARD_CACHE.clear()
    df = (
        spark.read.format("lakehouse")
        .option("predicate", json.dumps({"id": {"between": [42, 44]}}))
        .load(root)
    )
    assert sorted(r.id for r in df.collect()) == [42, 43, 44]
    # Spark plans Python data sources in a separate worker process, so
    # module caches there aren't observable — replan IN-PROCESS to assert
    # the pruned route (the exact code path the read above executed).
    opts = {"path": root, "predicate": json.dumps({"id": {"between": [42, 44]}})}
    dsrc = TS.LakehouseDataSource(opts)
    sch = dsrc.schema()
    rdr = dsrc.reader(sch)
    parts = rdr.partitions()
    n_segs = len(st._snapshot(st.current_version())["segments"])
    # Planning never materialized the full snapshot; shard files were
    # parsed by name; and far fewer than n_segs partitions survived.
    assert all(k[0] != root for k in TS._SNAPSHOT_CACHE)
    assert TS._SHARD_CACHE
    assert 0 < len(parts) < n_segs


# -- TableStore.read() plans from the recorded schema ------------------------


def _footer_union_read(st, v):
    """What read(version=v) presented before it planned from the scalar:
    the mergeSchema footer union of v's segments, dvs applied, logical."""
    snap = st._snapshot(v)
    df = st._read_segments(snap["segments"], snap.get("dv", {}), None)
    return st._to_logical_static(
        df, snap.get("renames", {}), snap.get("dropped", [])
    )


def _jobs_during(spark, fn):
    """(Spark jobs launched while ``fn`` runs, fn's result)."""
    sc = spark.sparkContext
    tag = "read-jobs-probe"
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag)), out


def test_store_read_schema_from_scalar_matches_footers(spark, tmp_path):
    """TableStore twin of the data-source test above: every version's
    read() — columns, schema and rows — equals the footer-union
    presentation across schema evolution, column mapping (rename, drop)
    and a merge-on-read delete."""
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(5).selectExpr("id", "id AS x", "id * 2 AS y"))
    st.append(
        spark.range(5, 8).selectExpr("id", "id AS x", "id * 2 AS y", "'n' AS note")
    )
    st.rename_column("x", "val")
    st.drop_column("y")
    st.delete_keys(spark.range(2, 4).selectExpr("id"), mode="dv")
    head = st.current_version()
    assert st._snapshot(head)["dv"]
    assert st.read().columns == ["id", "val", "note"]
    for v in range(head + 1):
        got = st.read(version=v)
        want = _footer_union_read(st, v)
        assert got.columns == want.columns, v
        assert got.schema == want.schema, v
        assert sorted(got.collect()) == sorted(want.collect()), v
    old = st.read(version=1)
    assert old.columns == ["id", "x", "y", "note"]
    assert sorted((r.id, r.note) for r in old.collect())[:2] == [
        (0, None),
        (1, None),
    ]


def test_store_read_plans_without_spark_jobs(spark, tmp_path):
    """With the scalar recorded, planning read() and read(predicate=...)
    on a table with live deletion vectors launches no Spark job (the
    footer-union planning ran one per read, plus one for the dv keys)."""
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(10).selectExpr("id", "id AS x"))
    st.append(spark.range(10, 20).selectExpr("id", "id AS x", "'n' AS note"))
    st.delete_keys(spark.range(3, 5).selectExpr("id"), mode="dv")
    st.delete_keys(spark.range(12, 13).selectExpr("id"), mode="dv")
    assert len(st._snapshot(st.current_version())["dv"]) == 2
    n, df = _jobs_during(spark, st.read)
    assert n == 0
    n, hit = _jobs_during(spark, lambda: st.read(predicate={"id": (0, 12)}))
    assert n == 0
    assert df.columns == hit.columns == ["id", "x", "note"]
    assert df.count() == 17
    assert sorted(r.id for r in hit.collect()) == [
        0, 1, 2, 5, 6, 7, 8, 9, 10, 11,
    ]


def test_store_read_footer_fallback_for_pre_scalar_tables(spark, tmp_path):
    """A pre-scalar table (manifests without the ``schema`` scalar) still
    reads through the footer union: evolved columns read as null in the
    segments that predate them, and a pruned predicate over an evolved
    column still resolves."""
    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    st.init(spark.range(4).selectExpr("id", "id AS x"))
    st.append(spark.range(4, 6).selectExpr("id", "id AS x", "'n' AS note"))
    for v in range(st.current_version() + 1):
        p = st._manifest_path(v)
        with open(p) as f:
            doc = json.load(f)
        doc.pop("schema", None)
        with open(p, "w") as f:
            json.dump(doc, f)
    old = TableStore(spark, root, key="id", stats_cols=("id",))
    assert old._snapshot(old.current_version())["schema"] is None
    df = old.read()
    assert df.columns == ["id", "x", "note"]
    assert sorted((r.id, r.note) for r in df.collect()) == [
        (0, None), (1, None), (2, None), (3, None), (4, "n"), (5, "n"),
    ]
    pruned = old.read(predicate={"id": (0, 2), "note": "n"})
    assert pruned.columns == ["id", "x", "note"]
    assert pruned.count() == 0


def test_store_pruned_read_keeps_evolved_predicate_columns(spark, tmp_path):
    """When pruning keeps only segments older than an evolved predicate
    column, the recorded schema still carries that column, so the read
    stays pruned (no unpruned re-plan) and equals read().filter(p)."""
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(4).selectExpr("id", "id AS x"))
    st.append(spark.range(4, 8).selectExpr("id", "id AS x", "'n' AS note"))
    seg0 = st._snapshot(0)["segments"]
    pred = {"id": (0, 3), "note": None}
    hit = st.read(predicate=pred)
    files = hit.inputFiles()
    assert files and all(any(f"/{s}/" in f for s in seg0) for f in files)
    assert len(files) < len(st.read().inputFiles())
    assert sorted(r.id for r in hit.collect()) == [0, 1, 2, 3]
    miss = st.read(predicate={"id": (0, 3), "note": "n"})
    assert miss.count() == 0
    assert miss.columns == ["id", "x", "note"]

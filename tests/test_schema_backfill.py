"""Round-12 verdict ask #3: schema-scalar BACKFILL for pre-scalar tables.

Tables written before the manifest ``schema`` scalar existed stay
schema-UNKNOWN until a full rewrite (the write lanes refuse to seed from a
targeted commit's staged footers — the pass-2 poisoning rule), paying the
O(table) footer-union fallback once per version for logical-schema
planning and the data source's cold plan. Two metadata-only seams fix
that without a data rewrite:

- ``TableStore.backfill_schema()`` — harvest the footer union once and
  commit it as a scalar-bearing pure-metadata delta. Seeding goes
  through a COMMIT on purpose: writing the harvest into a checkpoint
  (the rejected alternative) diverges — warm writers' in-memory state
  still says schema-unknown, their later evolving appends record no
  union, and replayers through the seeded checkpoint would read a stale
  SUBSET scalar (silent column loss on later targeted DML). A test below
  pins that checkpoints do NOT seed.
"""

from __future__ import annotations

import json
import os

import pytest

from lakehouse_spark.mutation.manifest import load_scalars, read_manifest_file
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.sources import table_source as TS


def _strip_schema(root: str) -> None:
    """Remove the schema scalar from every manifest and checkpoint file —
    the on-disk state of a table written before round 11."""
    for fn in os.listdir(root):
        if not (fn.startswith("_manifest_") or fn.startswith("_checkpoint_")):
            continue
        if ".tmp" in fn or "_shard_" in fn:
            continue
        p = os.path.join(root, fn)
        with open(p) as f:
            doc = json.load(f)
        if doc.pop("schema", None) is not None or "schema" in doc:
            doc.pop("schema", None)
            with open(p, "w") as f:
                json.dump(doc, f)


def _pre_scalar(spark, root, **kw) -> TableStore:
    """A multi-segment, schema-evolved, pre-scalar table + fresh store."""
    st = TableStore(spark, root, key="id", stats_cols=("id",), **kw)
    st.init(spark.range(5).selectExpr("id", "id AS x"))
    st.append(spark.range(5, 10).selectExpr("id", "id AS x", "'n' AS note"))
    _strip_schema(root)
    fresh = TableStore(spark, root, key="id", stats_cols=("id",), **kw)
    assert fresh._snapshot(fresh.current_version()).get("schema") is None
    return fresh


def test_backfill_seeds_scalar_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    st = _pre_scalar(spark, root)
    v0 = st.current_version()
    nv = st.backfill_schema()
    assert nv == v0 + 1
    snap = st._snapshot(nv)
    assert [f["name"] for f in snap["schema"]["fields"]] == ["id", "x", "note"]
    # Pure-metadata delta: same segments, nothing added or removed.
    raw = read_manifest_file(root, nv)
    assert raw.get("delta") == 1
    assert raw["add"] == [] and raw["remove"] == []
    assert raw["schema"] == snap["schema"]
    assert snap["segments"] == st._snapshot(v0)["segments"]
    # Data untouched.
    got = {(r.id, r.note) for r in st.read().collect()}
    assert got == {(i, None) for i in range(5)} | {
        (i, "n") for i in range(5, 10)
    }


def test_backfill_idempotent_and_noop_on_scalar_tables(spark, tmp_path):
    root = str(tmp_path / "t")
    st = _pre_scalar(spark, root)
    nv = st.backfill_schema()
    assert nv is not None
    assert st.backfill_schema() is None  # already seeded: no commit
    assert st.current_version() == nv
    # A born-scalar table is a no-op from the start.
    st2 = TableStore(spark, str(tmp_path / "u"), key="id")
    st2.init(spark.range(3).selectExpr("id"))
    assert st2.backfill_schema() is None


def test_backfill_enables_datasource_fast_path(spark, tmp_path):
    """After backfill, the data source presents the logical schema from
    the scalar WITHOUT the footer walk (the pre-scalar fallback)."""
    root = str(tmp_path / "t")
    st = _pre_scalar(spark, root)
    st.rename_column("x", "val")
    st.backfill_schema()
    TS._SNAPSHOT_CACHE.clear()
    TS._SCALARS_CACHE.clear()
    orig = TS._one_file_per_schema

    def _boom(*a, **k):  # the footer walk must not run
        raise AssertionError("footer walk on a scalar-bearing table")

    TS._one_file_per_schema = _boom
    try:
        dsrc = TS.LakehouseDataSource({"path": root})
        schema = dsrc.schema()
    finally:
        TS._one_file_per_schema = orig
    assert [f.name for f in schema.fields] == ["id", "val", "note"]
    # End-to-end read agrees.
    df = spark.read.format("lakehouse").load(root)
    assert {(r.id, r.val, r.note) for r in df.collect()} == {
        (i, i, None) for i in range(5)
    } | {(i, i, "n") for i in range(5, 10)}


def test_backfill_then_load_scalars_from_checkpoint(spark, tmp_path):
    """load_scalars (the sharded list-doc fast path) returns the seeded
    schema after backfill on a pre-scalar fixture — the round-12 done
    criterion."""
    root = str(tmp_path / "t")
    st = TableStore(
        spark, root, key="id", stats_cols=("id",), checkpoint_interval=3
    )
    st.checkpoint_sync = True
    st.init(spark.range(3).selectExpr("id", "id AS x"))
    for lo in range(3, 12, 3):
        st.append(spark.range(lo, lo + 3).selectExpr("id", "id AS x"))
    st.checkpoint_barrier()
    _strip_schema(root)
    fresh = TableStore(
        spark, root, key="id", stats_cols=("id",), checkpoint_interval=3
    )
    fresh.checkpoint_sync = True
    v = fresh.current_version()
    sc = load_scalars(root, v)
    assert sc is not None and sc.get("schema") is None  # pre-scalar
    nv = fresh.backfill_schema()
    sc = load_scalars(root, nv)
    assert sc is not None and sc["schema"] is not None
    assert [f["name"] for f in sc["schema"]["fields"]] == ["id", "x"]


def test_checkpoint_write_does_not_seed_pre_scalar_snapshot(spark, tmp_path):
    """Checkpoints must NOT seed the schema scalar (round-12 review
    finding #2): a warm writer whose in-memory state says schema-unknown
    records no union on later EVOLVING appends, so a checkpoint-seeded
    scalar would become a stale subset for replayers — silent column
    loss. Pin the full divergence scenario staying correct: checkpoint on
    a pre-scalar table, then an evolving append by the SAME warm writer,
    then cold reads — the scalar stays None everywhere and the footer
    fallback presents the full schema including the new column."""
    root = str(tmp_path / "t")
    st = TableStore(
        spark, root, key="id", stats_cols=("id",), checkpoint_interval=100
    )
    st.init(spark.range(3).selectExpr("id", "id AS x"))
    _strip_schema(root)
    warm = TableStore(
        spark, root, key="id", stats_cols=("id",), checkpoint_interval=100
    )
    v = warm.current_version()
    assert warm._snapshot(v).get("schema") is None
    warm._write_checkpoint(v)
    sc = load_scalars(root, v)
    assert sc is None or sc.get("schema") is None  # not seeded
    # The hazard step: the SAME warm writer evolves the schema.
    warm.append(spark.range(3, 6).selectExpr("id", "id AS x", "'n' AS note"))
    hv = warm.current_version()
    cold = TableStore(spark, root, key="id", stats_cols=("id",))
    snap = cold._snapshot(hv)
    assert snap.get("schema") is None  # no stale subset anywhere
    # Footer fallback still presents the FULL evolved schema.
    TS._SNAPSHOT_CACHE.clear()
    TS._SCALARS_CACHE.clear()
    df = spark.read.format("lakehouse").load(root)
    assert df.columns == ["id", "x", "note"]
    # And the committed op remains the way to get the fast path — now
    # covering the evolved column too.
    cold.backfill_schema()
    snap = cold._snapshot(cold.current_version())
    assert [f["name"] for f in snap["schema"]["fields"]] == ["id", "x", "note"]


def test_backfill_then_targeted_dml_keeps_evolved_columns(spark, tmp_path):
    """The scenario the scalar exists for: targeted DML on a backfilled
    table aligns to the FULL schema (evolved columns living only in
    untouched segments survive the rewrite)."""
    root = str(tmp_path / "t")
    st = _pre_scalar(spark, root)
    st.backfill_schema()
    dml = TableStore(spark, root, key="id", stats_cols=("id",))
    dml.update(set={"x": "x + 100"}, predicate={"id": (1, 1)}, where="id = 1")
    got = {(r.id, r.x, r.note) for r in dml.read().collect()}
    assert (1, 101, None) in got
    assert (7, 7, "n") in got  # evolved column intact
    assert len(got) == 10


def test_pre_scalar_table_append_does_not_poison_schema(spark, tmp_path):
    """A pre-round-11 table (schema scalar None) appending a SUBSET frame
    must NOT seed the scalar from that subset — later targeted DML would
    align rewrites to it and physically drop the other columns."""
    import json as _json
    import os as _os

    root = str(tmp_path / "t")
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    st.init(spark.range(10).selectExpr("id", "id AS a", "id AS b"))
    # Simulate a pre-scalar table: strip the scalar from the manifest.
    p = _os.path.join(root, "_manifest_000000.json")
    with open(p) as f:
        doc = _json.load(f)
    doc.pop("schema", None)
    with open(p, "w") as f:
        _json.dump(doc, f)
    st = TableStore(spark, root, key="id", stats_cols=("id",))
    # Subset append (allowed: missing columns read as null).
    st.append(spark.range(10, 12).selectExpr("id"))
    assert st._snapshot(st.current_version())["schema"] is None
    # Targeted delete must preserve a and b in the rewritten segment.
    st.delete_keys(spark.range(0, 1).selectExpr("id"))
    assert st._snapshot(st.current_version())["schema"] is None
    rows = {(r.id, r.a, r.b) for r in st.read().collect()}
    assert (5, 5, 5) in rows and (11, None, None) in rows
    assert len(rows) == 11

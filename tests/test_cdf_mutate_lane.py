"""Round-12 verdict ask #1: ``write_cdf=True`` stores route DML through
the mutate lane. Previously CDF forced every DML commit back to the
general O(table)-containers lane because change-file materialization ran
a FULL snapshot diff; now the materialization of a delta-manifest rewrite
is the RESTRICTED diff over exactly the touched segments
(reads._changes_delta), written pre-pointer inside _commit_mutate — so
the tables that feed incremental consumers (mview) pay the same
O(affected) per-statement metadata as everyone else.

Pins: mutate commits on CDF stores write DELTA manifests with the change
file present at pointer-advance; the restricted diff's images equal the
full snapshot diff's; only touched segments are read; appends on CDF
stores take the same delta lane with no change file; dv-mode deletes stay
delete_dv (no change file); and CDF-vs-non-CDF stores stay image-
identical over the same DML sequence.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.mutation import manifest as M
from lakehouse_spark.mutation.store import TableStore


def _mk(spark, path, n=120, seg=20, **kw):
    """Clustered multi-segment store: ids [0,n) in segments of ``seg``."""
    st = TableStore(spark, str(path), key="id", stats_cols=("id",), **kw)
    st.init(spark.range(0, seg).selectExpr("id", "id AS x", "'a' AS tag"))
    for lo in range(seg, n, seg):
        st.append(
            spark.range(lo, lo + seg).selectExpr("id", "id AS x", "'a' AS tag")
        )
    return st


def _images(st, v):
    return {
        (r.id, r.x, r.tag, r._change_type)
        for r in st.changes(v, v).collect()
    }


def test_cdf_dml_commits_delta_manifest_with_change_file(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", write_cdf=True)
    segs0 = st._snapshot(st.current_version())["segments"]
    n = st.update(set={"x": "x + 1000"}, predicate={"id": (42, 43)})
    assert n == 2
    v = st.current_version()
    raw = M.read_manifest_file(st.root, v)
    assert raw.get("delta") == 1, "CDF DML must stay on the mutate lane"
    assert len(raw["remove"]) == 1 and raw["remove"][0] in segs0
    assert os.path.isdir(st._cdc_path(v)), "change file written pre-pointer"
    assert _images(st, v) == {
        (42, 42, "a", "update_preimage"),
        (43, 43, "a", "update_preimage"),
        (42, 1042, "a", "update_postimage"),
        (43, 1043, "a", "update_postimage"),
    }


def test_restricted_diff_equals_full_snapshot_diff(spark, tmp_path):
    """_changes_delta (touched segments only) must produce exactly the
    full keyed snapshot diff's rows, across delete/upsert shapes."""
    st = _mk(spark, tmp_path / "t", write_cdf=True)
    st.delete_where(where="id BETWEEN 40 AND 44", predicate={"id": (40, 44)})
    st.upsert(
        spark.createDataFrame(
            [(41, 999, "up"), (500, 1, "new")], "id long, x long, tag string"
        )
    )
    for v in range(st.current_version() - 1, st.current_version() + 1):
        raw = M.read_manifest_file(st.root, v)
        assert "segments" not in raw  # delta: the restricted path served it
        restricted = {
            tuple(r) for r in st._changes_delta(v, raw).collect()
        }
        full = {tuple(r) for r in st._diff_versions(v).collect()}
        assert restricted == full, f"v{v}"


def test_materialize_reads_only_touched_segments(spark, tmp_path):
    """The restricted diff's data read is O(affected): every segment read
    during a 2-key update's materialization belongs to the touched set
    (1 removed + 1 added), never the other table segments."""
    st = _mk(spark, tmp_path / "t", write_cdf=True)
    seen: list[list[str]] = []
    orig = type(st)._read_segments

    def spy(self, segments, dv, schema):
        seen.append(list(segments))
        return orig(self, segments, dv, schema)

    type(st)._read_segments = spy
    try:
        st.update(set={"x": "x + 1"}, predicate={"id": (42, 43)})
    finally:
        type(st)._read_segments = orig
    v = st.current_version()
    raw = M.read_manifest_file(st.root, v)
    touched = set(raw["remove"]) | set(raw["add"])
    n_segs = len(st._snapshot(v)["segments"])
    assert n_segs >= 6
    for segs in seen:
        assert len(segs) <= len(touched)
        # every materialize-time read stays within removed+added (the DML
        # itself also reads only the touched pre-image segment)
        assert set(segs) <= touched | set(raw["remove"])


def test_cdf_append_takes_append_lane_no_change_file(spark, tmp_path):
    st = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("id",),
        write_cdf=True,
    )
    st.init(spark.range(5).selectExpr("id", "id AS x"))
    st.append(spark.range(5, 8).selectExpr("id", "id AS x"))
    v = st.current_version()
    raw = M.read_manifest_file(st.root, v)
    assert raw.get("delta") == 1 and raw["add"] and not raw.get("remove")
    assert st.commit_kind(v)[0] == "append"
    assert not os.path.isdir(st._cdc_path(v))  # appends need no change file
    got = {(r.id, r._change_type) for r in st.changes(v, v).collect()}
    assert got == {(5, "insert"), (6, "insert"), (7, "insert")}


def test_cdf_dv_delete_stays_delete_dv(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", write_cdf=True)
    st.delete_keys(spark.range(42, 44).selectExpr("id"), mode="dv")
    v = st.current_version()
    assert st.commit_kind(v)[0] == "delete_dv"
    assert not os.path.isdir(st._cdc_path(v))  # the dv file IS the feed
    got = {(r.id, r._change_type) for r in st.changes(v, v).collect()}
    assert got == {(42, "delete"), (43, "delete")}
    assert st.read().count() == 118


def test_cdf_and_plain_store_image_parity_over_dml_sequence(spark, tmp_path):
    """Same DML sequence on a write_cdf store (stored restricted change
    files) and a plain store (on-demand snapshot diffs): identical change
    feeds, version for version."""
    a = _mk(spark, tmp_path / "a", write_cdf=True)
    b = _mk(spark, tmp_path / "b", write_cdf=False)
    for st in (a, b):
        st.update(set={"tag": "'u'"}, predicate={"id": (10, 12)})
        st.delete_where(where="id >= 100", predicate={"id": (100, None)})
        st.upsert(
            spark.createDataFrame(
                [(3, -3, "m"), (777, 7, "i")], "id long, x long, tag string"
            )
        )
    va, vb = a.current_version(), b.current_version()
    assert va == vb
    for v in range(va - 2, va + 1):
        ia = {tuple(r) for r in a.changes(v, v).collect()}
        ib = {tuple(r) for r in b.changes(v, v).collect()}
        assert ia == ib, f"v{v}"
    ra = sorted(tuple(r) for r in a.read().collect())
    rb = sorted(tuple(r) for r in b.read().collect())
    assert ra == rb


def test_materialize_failure_aborts_commit_cleanly(spark, tmp_path):
    """A materialization failure pre-pointer aborts the whole commit:
    pointer unmoved, claim released, no stale change file — and the retry
    succeeds."""
    st = _mk(spark, tmp_path / "t", n=60, write_cdf=True)
    v0 = st.current_version()
    orig = type(st).materialize_cdf
    calls = {"n": 0}

    def boom(self, v, *a, **kw):
        calls["n"] += 1
        raise OSError("disk full (injected)")

    type(st).materialize_cdf = boom
    try:
        with pytest.raises(OSError, match="injected"):
            st.update(set={"x": "x + 1"}, predicate={"id": (5, 5)})
    finally:
        type(st).materialize_cdf = orig
    assert calls["n"] == 1
    assert st.current_version() == v0
    assert not os.path.exists(M.manifest_path(st.root, v0 + 1))
    # Retry lands cleanly on the released slot.
    n = st.update(set={"x": "x + 1"}, predicate={"id": (5, 5)})
    assert n == 1
    assert st.current_version() == v0 + 1
    assert os.path.isdir(st._cdc_path(v0 + 1))
    assert {r.x for r in st.read().filter("id = 5").collect()} == {6}


def test_compaction_on_cdf_store_emits_no_changes(spark, tmp_path):
    """OPTIMIZE routes through the mutate lane on CDF stores too; a full
    compaction is a layout change, not a data change — the feed must be
    empty for it (noop-rewrite classification or an empty diff)."""
    st = _mk(spark, tmp_path / "t", n=60, write_cdf=True)
    st.update(set={"x": "x * 2"}, predicate={"id": (7, 8)})
    before = sorted(tuple(r) for r in st.read().collect())
    st.compact()
    v = st.current_version()
    assert st.changes(v, v).count() == 0
    assert sorted(tuple(r) for r in st.read().collect()) == before


def test_cdf_mor_upsert_materializes_change_file(spark, tmp_path):
    """Merge-on-read DML (dv-mode upsert: new segments + dv_set, committed
    through the delta lane, removing nothing) classifies as a REWRITE —
    its change file must exist at pointer-advance or a CDF stream holds
    back forever waiting for a file nothing will write (round-12 review
    finding #1)."""
    from lakehouse_spark.sources.table_source import _changes_ready

    st = _mk(spark, tmp_path / "t", write_cdf=True)
    st.upsert(
        spark.createDataFrame(
            [(42, 1, "u"), (900, 2, "i")], "id long, x long, tag string"
        ),
        mode="dv",
    )
    v = st.current_version()
    assert st.commit_kind(v)[0] == "rewrite"
    assert os.path.isdir(st._cdc_path(v)), "MoR commit without change file"
    assert _changes_ready(st.root, v), "stream would stall at head-1"
    got = {(r.id, r.x, r._change_type) for r in st.changes(v, v).collect()}
    assert got == {
        (42, 42, "update_preimage"),
        (42, 1, "update_postimage"),
        (900, 2, "insert"),
    }
    # The restricted diff equals the full snapshot diff for this shape too
    # (add + dv_set, no remove).
    raw = M.read_manifest_file(st.root, v)
    assert "segments" not in raw and raw.get("dv_set") and raw["add"]
    restricted = {tuple(r) for r in st._changes_delta(v, raw).collect()}
    full = {tuple(r) for r in st._diff_versions(v).collect()}
    assert restricted == full


def test_commit_rewrites_stale_cdc_from_crashed_claimant(spark, tmp_path):
    """A crashed claimant can leave a complete _cdc dir for a slot it
    never finalized (the delta lanes write change files pre-finalize).
    PRE-finalize claim-held commits must REWRITE that poison, never
    serve it (pass-3 finding #1)."""
    st = _mk(spark, tmp_path / "t", n=60, write_cdf=True)
    # Fabricate the poison: bogus change content at the NEXT version slot.
    nxt = st.current_version() + 1
    spark.range(3).selectExpr(
        "id", "id AS x", "'BOGUS' AS tag",
        "'insert' AS _change_type", "CAST(99 AS LONG) AS _commit_version",
    ).write.mode("overwrite").parquet(st._cdc_path(nxt))
    st.update(set={"x": "x + 7"}, predicate={"id": (5, 5)})
    assert st.current_version() == nxt
    got = {(r.id, r._change_type) for r in st.changes(nxt, nxt).collect()}
    assert got == {(5, "update_preimage"), (5, "update_postimage")}
    assert not any("BOGUS" in str(r) for r in st.changes(nxt, nxt).collect())


def test_materialize_prefinalize_rewrites_postfinalize_keeps(spark, tmp_path):
    """The claim-stage split (pass-6 finding #1): PRE-finalize commit
    calls strictly rewrite an existing change dir (only a dead attempt's
    poison can exist there), while POST-finalize calls — full-manifest
    commits and recovery — keep it (only a roll-forward racer's
    identical-content materialization can exist there; removing it would
    open a pointer-visible has_cdf=false window). The stage flag, not
    the doc shape, is what decides."""
    st = _mk(spark, tmp_path / "t", n=40, write_cdf=True)
    st.update(set={"x": "x + 1"}, predicate={"id": (3, 3)})
    v = st.current_version()
    raw = M.read_manifest_file(st.root, v)
    assert "segments" not in raw  # delta-encoded
    dst = st._cdc_path(v)
    # Sentinel: survives a keep, vanishes on a rewrite (inode comparison
    # would flake when the fs reuses the just-freed inode number).
    sentinel = os.path.join(dst, "_sentinel")
    open(sentinel, "w").close()
    # Post-finalize commit semantics: keep the racer's dir untouched.
    assert st.materialize_cdf(v, _raw=raw) is True
    assert os.path.exists(sentinel)
    # Recovery semantics: same keep.
    assert st.materialize_cdf(v) is True
    assert os.path.exists(sentinel)
    # Pre-finalize commit semantics: strict rewrite, identical content
    # for the same doc.
    before = {tuple(r) for r in st.changes(v, v).collect()}
    assert st.materialize_cdf(v, _raw=raw, _prefinalize=True) is True
    assert not os.path.exists(sentinel)
    assert {tuple(r) for r in st.changes(v, v).collect()} == before


def test_orphan_steal_purges_dead_claimants_change_file(spark, tmp_path):
    """A claimant killed between change-file publish and manifest
    finalize leaves a zero-length claim + complete _cdc dir. The orphan
    steal must purge that debris before freeing the slot (pass-4 finding
    #1). The store here is write_cdf=False so NO commit-path rewrite can
    mask a missing purge (pass-5 finding #1): changes() serves any
    stored _cdc dir directly for rewrite commits, so the poison would
    surface verbatim if the steal left it behind."""
    st = _mk(spark, tmp_path / "t", n=40, write_cdf=False)
    st.orphan_grace_sec = 0.2
    nxt = st.current_version() + 1
    # Fabricate the crashed claimant: zero-length claim + poison _cdc.
    open(M.manifest_path(st.root, nxt), "w").close()
    spark.range(2).selectExpr(
        "id", "id AS x", "'BOGUS' AS tag",
        "'insert' AS _change_type", "CAST(97 AS LONG) AS _commit_version",
    ).write.mode("overwrite").parquet(st._cdc_path(nxt))
    import time as _time

    _time.sleep(0.3)  # age past the grace window
    st.update(set={"x": "x + 5"}, predicate={"id": (3, 3)})
    assert st.current_version() == nxt
    rows = st.changes(nxt, nxt).collect()
    assert not any(r.tag == "BOGUS" for r in rows)
    assert {(r.id, r._change_type) for r in rows} == {
        (3, "update_preimage"),
        (3, "update_postimage"),
    }

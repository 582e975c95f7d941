"""Bloom sidecars: point-lookup + targeted-DML pruning on UNCLUSTERED
layouts, where min/max stats span everything. Invariants under test:
no false negatives (a bloom 'absent' is proof), byte-stable hash parity
between the JVM writer and the Python prober, and results identical with
and without pruning."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import hash64
from lakehouse_spark.mutation import bloom as B
from lakehouse_spark.mutation.store import TableStore


def _mk_unclustered(spark, root, bloom=True):
    """Four appends whose id sets INTERLEAVE (stride-4) — every segment's
    [min, max] spans nearly the whole key space, so range stats prune
    nothing and only blooms can."""
    store = TableStore(
        spark,
        root,
        key="id",
        stats_cols=("id",),
        bloom_cols=("id",) if bloom else (),
    )
    for off in range(4):
        store.append(
            spark.createDataFrame(
                [(i * 4 + off, f"v{i * 4 + off}") for i in range(100)],
                "id long, val string",
            )
        )
    return store


def _segments_of_head(store):
    return store._snapshot(store.current_version())["segments"]


def test_jvm_and_python_hashes_agree(spark):
    """The correctness backbone: writer (Spark md5 of cast-to-string) and
    prober (Python md5 of str(v)) must produce identical 60-bit hashes —
    a disagreement would turn bloom pruning into silent data loss."""
    vals = [0, 5, 123456789, -42, 2**45, "abc", "", "naïve ☃", "k0042"]
    ints = [v for v in vals if isinstance(v, int)]
    strs = [v for v in vals if isinstance(v, str)]
    idf = spark.createDataFrame([(v,) for v in ints], "v long")
    sdf = spark.createDataFrame([(v,) for v in strs], "v string")
    for df, pyvals in ((idf, ints), (sdf, strs)):
        got = {
            r.v: r.h
            for r in df.select(
                "v", hash64("cast(v as string)").alias("h")
            ).collect()
        }
        for v in pyvals:
            assert got[v] == B.py_hash64(v), v


def test_bloom_prunes_point_lookup_on_unclustered_layout(spark, tmp_path):
    store = _mk_unclustered(spark, str(tmp_path / "t"))
    full = store.read()
    # range stats alone cannot prune this layout: every segment overlaps
    stats = store._snapshot(store.current_version())["stats"]
    assert all(
        stats[s]["id"][0] <= 42 <= stats[s]["id"][1]
        for s in _segments_of_head(store)
    )
    hit = store.read(predicate={"id": 42})
    assert [r.val for r in hit.collect()] == ["v42"]
    assert len(hit.inputFiles()) < len(full.inputFiles())
    # absent key: bloom proves absence in every segment -> zero files read
    miss = store.read(predicate={"id": 5555})
    assert miss.count() == 0
    # no false negatives anywhere: every present key is found
    for probe in (0, 1, 202, 399):
        assert store.read(predicate={"id": probe}).count() == 1


def test_bloom_enables_targeted_dml_without_clustering(spark, tmp_path):
    with_bloom = _mk_unclustered(spark, str(tmp_path / "a"), bloom=True)
    without = _mk_unclustered(spark, str(tmp_path / "b"), bloom=False)
    before = set(_segments_of_head(with_bloom))
    src = spark.createDataFrame(
        [(42, "UPD"), (46, "UPD2"), (5000, "NEW")], "id long, val string"
    )
    with_bloom.upsert(src)
    without.upsert(src)
    rows = lambda s: sorted((r.id, r.val) for r in s.read().collect())
    assert rows(with_bloom) == rows(without)  # pruning never changes results
    # 42 = 4*10+2 and 46 = 4*11+2 both live in the off=2 segment only:
    # blooms prove the other three segments untouched
    reused = [s for s in _segments_of_head(with_bloom) if s in before]
    assert len(reused) == 3
    # the no-bloom store could not prove anything (stats overlap): full rewrite
    assert len(_segments_of_head(without)) == 1


def test_bloom_delete_of_absent_keys_is_noop(spark, tmp_path):
    store = _mk_unclustered(spark, str(tmp_path / "t"))
    v0 = store.current_version()
    # keys INSIDE every segment's min/max range but provably absent
    removed = store.delete_keys(
        spark.createDataFrame([(401,), (402,)], "id long")
    )
    assert removed == 0
    assert store.current_version() == v0  # bloom proof -> no commit at all


def test_bloom_survives_null_keys_and_string_keys(spark, tmp_path):
    store = TableStore(
        spark, str(tmp_path / "t"), key="k", bloom_cols=("k",)
    )
    store.init(
        spark.createDataFrame(
            [("a", 1), (None, 2), ("b", 3)], "k string, n long"
        )
    )
    store.append(
        spark.createDataFrame([("c", 4), (None, 5)], "k string, n long")
    )
    assert store.read().count() == 5  # null keys intact
    assert store.read(predicate={"k": "c"}).count() == 1
    assert store.read(predicate={"k": "zzz"}).count() == 0
    # fresh reader instance (no bloom_cols declared) still prunes
    reader = TableStore(spark, store.root, key="k")
    hit = reader.read(predicate={"k": "a"})
    assert hit.count() == 1
    assert len(hit.inputFiles()) < len(reader.read().inputFiles())


def test_sidecars_travel_with_segments_and_die_with_vacuum(spark, tmp_path):
    store = _mk_unclustered(spark, str(tmp_path / "t"))
    segs = _segments_of_head(store)
    for s in segs:
        assert os.path.exists(os.path.join(store.root, s, "_bloom_id.bin"))
    # an append reuses old segments: their sidecars keep pruning
    store.append(spark.createDataFrame([(9000, "x")], "id long, val string"))
    assert store.read(predicate={"id": 5555}).count() == 0
    # compact then vacuum: old segment dirs (and their sidecars) removed
    store.compact()
    store.vacuum(keep_last=1)
    assert not os.path.exists(os.path.join(store.root, segs[0]))
    assert store.read().count() == 401


def test_python_datasource_pushdown_uses_blooms(spark, tmp_path):
    """format('lakehouse') point lookups prune whole segments via the
    sidecars, through the pushFilters seam."""
    from pyspark.sql.datasource import EqualTo, In

    from lakehouse_spark.sources.table_source import SnapshotReader

    store = _mk_unclustered(spark, str(tmp_path / "t"))
    # semantic check through the real reader path
    df = (
        spark.read.format("lakehouse")
        .load(store.root)
        .filter(F.col("id") == 42)
    )
    assert [r.val for r in df.collect()] == ["v42"]
    # structural check: the reader's surviving-segment set shrinks
    reader = SnapshotReader(store.root, {}, store.read().schema)
    assert len(reader._surviving_segments()) == 4
    reader.pushFilters([EqualTo(("id",), 42)])
    assert len(reader._surviving_segments()) == 1
    # In-set: all values absent -> nothing to scan
    reader2 = SnapshotReader(store.root, {}, store.read().schema)
    reader2.pushFilters([In(("id",), (5001, 5002))])
    assert len(reader2._surviving_segments()) == 0
    assert (
        spark.read.format("lakehouse")
        .load(store.root)
        .filter(F.col("id").isin(5001, 5002))
        .count()
        == 0
    )


# -- value-type gating: sidecars only for integral/string columns, whose
# writer canonical form (Spark cast-to-string) equals the Python probe's
# str(value); the sidecar records its value family and the prober refuses
# mismatched or legacy (untyped) sidecars, so a probe never yields a bloom
# FALSE NEGATIVE ------------------------------------------------------------


def test_bloom_not_built_for_double_column(spark, tmp_path):
    """A double bloom_col used to build a sidecar hashing "5.0" while the
    probe hashed "5" — a guaranteed false negative. Now the sidecar is
    simply not built, so the segment is conservatively kept and the read
    stays exact."""
    store = TableStore(
        spark, str(tmp_path / "t"), key="id", bloom_cols=("score", "id")
    )
    store.init(
        spark.createDataFrame(
            [(1, 5.0), (2, 7.5)], "id long, score double"
        )
    )
    seg_dir = os.path.join(store.root, "_seg000000")
    assert not os.path.exists(os.path.join(seg_dir, "_bloom_score.bin"))
    # integral sibling still gets its sidecar (typed)
    with open(os.path.join(seg_dir, "_bloom_id.json")) as f:
        assert json.load(f)["vtype"] == "int"
    # the advisor's exact probe: int 5 against double 5.0 must match
    assert store.read(predicate={"score": 5}).count() == 1


def test_bloom_probe_family_must_match_sidecar(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"), key="id", bloom_cols=("id",))
    store.init(spark.createDataFrame([(5, "a"), (7, "b")], "id long, v string"))
    seg = os.path.join(store.root, "_seg000000")
    # matching family loads; mismatched or legacy-untyped refuses
    assert B.load_bloom(seg, "id", "int") is not None
    assert B.load_bloom(seg, "id", "str") is None
    meta_path = os.path.join(seg, "_bloom_id.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["vtype"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    assert B.load_bloom(seg, "id", "int") is None  # legacy: never prune
    # and the read path stays exact (segment kept, filter applied)
    assert store.read(predicate={"id": 5}).count() == 1


def test_probe_family_rules():
    assert B.probe_family([1, 2]) == "int"
    assert B.probe_family(["a", "b"]) == "str"
    assert B.probe_family([1, "a"]) is None  # mixed
    assert B.probe_family([True]) is None  # bool is not int here
    assert B.probe_family([5.0]) is None
    assert B.probe_family([dt.date(2024, 1, 1)]) is None

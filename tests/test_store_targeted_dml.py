"""Targeted DML: upsert/merge/delete rewrite ONLY the segments whose key
stats can contain a source key (everything else reused by reference —
Delta's file-skipping DML), overwrite_where is Delta's replaceWhere, and
every read-then-rewrite commit detects snapshot conflicts instead of
silently clobbering an interleaved commit.

The invariant under test everywhere: targeting NEVER changes results,
only which files get rewritten."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.mutation.store import ConcurrentWriteError, TableStore


def _mk_banded(spark, root, stats=True):
    """Four appends with disjoint id ranges -> four key-clustered segments."""
    store = TableStore(
        spark, root, key="id", stats_cols=("id",) if stats else ()
    )
    for lo in (0, 100, 200, 300):
        df = spark.createDataFrame(
            [(i, f"v{i}", i * 1.0) for i in range(lo, lo + 100)],
            "id long, val string, x double",
        )
        store.append(df)
    return store


def _segments_of_head(store):
    return store._snapshot(store.current_version())["segments"]


def _rows(df):
    return sorted((r.id, r.val, r.x) for r in df.collect())


def test_targeted_upsert_reuses_unaffected_segments(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    before = set(_segments_of_head(store))
    src = spark.createDataFrame(
        [(150, "UPDATED", -1.0), (155, "UPDATED", -2.0), (999, "NEW", 9.0)],
        "id long, val string, x double",
    )
    store.upsert(src)
    after = _segments_of_head(store)
    # three of four prior segments reused by reference; one new segment
    reused = [s for s in after if s in before]
    assert len(reused) == 3
    assert len(after) == 4
    got = {r.id: (r.val, r.x) for r in store.read().collect()}
    assert got[150] == ("UPDATED", -1.0)
    assert got[155] == ("UPDATED", -2.0)
    assert got[999] == ("NEW", 9.0)
    assert got[151] == ("v151", 151.0)  # same-band neighbor survives
    assert got[0] == ("v0", 0.0)  # untouched band intact
    assert len(got) == 401


def test_targeted_matches_untargeted_exactly(spark, tmp_path):
    """Same upsert on a stats-clustered store and a no-stats store (which
    must take the full-rewrite path) -> identical tables."""
    clustered = _mk_banded(spark, str(tmp_path / "a"), stats=True)
    plain = _mk_banded(spark, str(tmp_path / "b"), stats=False)
    src = spark.createDataFrame(
        [(250, "Z", 0.5), (42, "Y", 0.25), (1000, "NEW", 1.5)],
        "id long, val string, x double",
    )
    clustered.upsert(src)
    plain.upsert(src)
    assert _rows(clustered.read()) == _rows(plain.read())
    # and the no-stats store really did rewrite everything
    assert len(_segments_of_head(plain)) == 1


def test_targeted_merge_parity_and_reuse(spark, tmp_path):
    clustered = _mk_banded(spark, str(tmp_path / "a"), stats=True)
    plain = _mk_banded(spark, str(tmp_path / "b"), stats=False)
    before = set(_segments_of_head(clustered))
    src = spark.createDataFrame(
        [(210, "upd", 1.0), (215, "del", 0.0), (777, "ins", 7.0)],
        "id long, val string, x double",
    )
    kw = dict(
        update_cols=["val"],
        delete_cond="s.val = 'del'",
        update_cond="s.val = 'upd'",
    )
    clustered.merge(src, **kw)
    plain.merge(src, **kw)
    assert _rows(clustered.read()) == _rows(plain.read())
    got = {r.id: (r.val, r.x) for r in clustered.read().collect()}
    assert got[210] == ("upd", 210.0)  # update_cols limited to val
    assert 215 not in got
    assert got[777] == ("ins", 7.0)
    reused = [s for s in _segments_of_head(clustered) if s in before]
    assert len(reused) == 3


def test_targeted_delete_outside_all_ranges_is_a_noop(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    v0 = store.current_version()
    keys = spark.createDataFrame([(5000,), (6000,)], "id long")
    assert store.delete_keys(keys) == 0
    assert store.current_version() == v0  # provably-empty delete: no commit


def test_targeted_delete_rewrites_only_overlapping(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    before = set(_segments_of_head(store))
    keys = spark.createDataFrame([(300,), (399,), (9999,)], "id long")
    assert store.delete_keys(keys) == 2
    reused = [s for s in _segments_of_head(store) if s in before]
    assert len(reused) == 3
    assert store.read().count() == 398
    ids = {r.id for r in store.read().filter(F.col("id") >= 300).collect()}
    assert 300 not in ids and 399 not in ids and 301 in ids


def test_targeted_dml_composes_with_deletion_vectors(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    # merge-on-read delete of two rows in band 0
    store.delete_keys(spark.createDataFrame([(10,), (20,)], "id long"), mode="dv")
    # targeted upsert into band 2 must keep the dv masking band 0
    store.upsert(
        spark.createDataFrame([(250, "B2", 0.0)], "id long, val string, x double")
    )
    ids = {r.id for r in store.read().collect()}
    assert 10 not in ids and 20 not in ids and 250 in ids
    # targeted upsert INTO the dv-covered band folds the dv for that band:
    # 10 is re-inserted by the source, 20 stays deleted
    store.upsert(
        spark.createDataFrame([(10, "BACK", 1.0)], "id long, val string, x double")
    )
    got = {r.id: r.val for r in store.read().collect()}
    assert got[10] == "BACK"
    assert 20 not in got
    assert got[250] == "B2"


def test_snapshot_conflict_raises_instead_of_clobbering(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    v0 = store.current_version()
    out = store.read(v0).filter(F.col("id") < 50)
    # an interleaved writer commits between our read and our commit
    other = TableStore(spark, store.root, key="id")
    other.append(
        spark.createDataFrame([(8000, "theirs", 0.0)], "id long, val string, x double")
    )
    with pytest.raises(ConcurrentWriteError):
        store._rewrite(out, base_version=v0)
    # their commit survives; our aborted claim released the slot
    got = {r.id for r in store.read().collect()}
    assert 8000 in got and len(got) == 401
    other.append(
        spark.createDataFrame([(8001, "more", 0.0)], "id long, val string, x double")
    )  # the slot is writable again


def test_overwrite_where_replaces_one_band(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    before = set(_segments_of_head(store))
    repl = spark.createDataFrame(
        [(110, "NEWDAY", 0.0), (111, "NEWDAY", 0.1)],
        "id long, val string, x double",
    )
    store.overwrite_where(repl, {"id": (100, 199)})
    reused = [s for s in _segments_of_head(store) if s in before]
    assert len(reused) == 3
    rows = store.read().filter(F.col("id").between(100, 199)).collect()
    assert sorted(r.id for r in rows) == [110, 111]
    assert store.read().count() == 302  # 3 bands x 100 + 2 replacement rows
    assert store.read().filter(F.col("id") == 0).count() == 1


def test_overwrite_where_rejects_out_of_bounds_rows(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    v0 = store.current_version()
    bad = spark.createDataFrame(
        [(110, "ok", 0.0), (500, "OUTSIDE", 0.0)],
        "id long, val string, x double",
    )
    with pytest.raises(ValueError, match="outside the predicate"):
        store.overwrite_where(bad, {"id": (100, 199)})
    with pytest.raises(ValueError, match="empty predicate"):
        store.overwrite_where(bad, {})
    assert store.current_version() == v0  # nothing committed


def test_compact_range_by_enables_targeting_on_messy_layout(spark, tmp_path):
    """Interleaved appends give every segment full-range stats (targeting
    finds nothing to skip); compact(range_by=key) re-bands the layout so
    the next upsert touches one band."""
    store = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    # every append spans the whole key range -> overlapping stats
    for off in range(4):
        store.append(
            spark.createDataFrame(
                [(i * 4 + off, f"v{i * 4 + off}", 1.0) for i in range(100)],
                "id long, val string, x double",
            )
        )
    full = _rows(store.read())
    store.compact(range_by="id", n_segments=4)
    assert _rows(store.read()) == full  # layout changed, data identical
    banded = set(_segments_of_head(store))
    assert len(banded) == 4
    store.upsert(
        spark.createDataFrame([(2, "U", 2.0)], "id long, val string, x double")
    )
    reused = [s for s in _segments_of_head(store) if s in banded]
    assert len(reused) == 3  # one band rewritten, three reused
    got = {r.id: r.val for r in store.read().collect()}
    assert got[2] == "U" and len(got) == 400


def test_compact_range_by_string_column(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "t"), key="k", stats_cols=("k",))
    rows = [(f"k{i:04d}", i) for i in range(400)]
    store.init(spark.createDataFrame(rows, "k string, n long"))
    store.compact(range_by="k", n_segments=4)
    assert len(_segments_of_head(store)) == 4
    assert store.read().count() == 400
    # string-range pruning works off the banded stats
    one = store.read(predicate={"k": ("k0000", "k0050")})
    assert one.count() == 51
    assert len(one.inputFiles()) < len(store.read().inputFiles())
    # and targeted delete reuses the other bands
    before = set(_segments_of_head(store))
    assert store.delete_keys(
        spark.createDataFrame([("k0001",)], "k string")
    ) == 1
    assert len([s for s in _segments_of_head(store) if s in before]) == 3


def test_streaming_cdc_apply_is_targeted_per_batch(spark, tmp_path):
    """The exactly-once upsert sink (CDC-apply shape) inherits targeting:
    on a key-clustered store, each micro-batch whose keys fall in one band
    rewrites one band and reuses the rest by reference."""
    from lakehouse_spark.streaming import live

    store = TableStore(
        spark, str(tmp_path / "dim"), key="id", stats_cols=("id",)
    )
    store.init(
        spark.range(400).select(
            "id", F.concat(F.lit("v"), F.col("id")).alias("val")
        )
    )
    store.compact(range_by="id", n_segments=4)
    banded = set(_segments_of_head(store))
    sink = live.exactly_once_upsert_sink(store)
    # batch 0: keys in band 0; batch 1: keys in band 3
    sink(spark.createDataFrame([(3, "b0"), (7, "b0")], "id long, val string"), 0)
    after0 = _segments_of_head(store)
    assert len([s for s in after0 if s in banded]) == 3
    sink(spark.createDataFrame([(390, "b1")], "id long, val string"), 1)
    after1 = _segments_of_head(store)
    assert len([s for s in after1 if s in after0]) == 3
    # replay of batch 1 is a no-op (idempotence preserved alongside targeting)
    v = store.current_version()
    sink(spark.createDataFrame([(390, "AGAIN")], "id long, val string"), 1)
    assert store.current_version() == v
    got = {r.id: r.val for r in store.read().collect()}
    assert got[3] == "b0" and got[390] == "b1" and got[5] == "v5"
    assert len(got) == 400


def test_mor_upsert_rewrites_nothing(spark, tmp_path):
    """mode='dv' upsert: every prior segment reused, one new segment for
    the source rows, one dv masking the replaced keys' old images."""
    mor = _mk_banded(spark, str(tmp_path / "a"))
    ref = _mk_banded(spark, str(tmp_path / "b"))
    src = spark.createDataFrame(
        [(150, "UPD", -1.0), (7, "UPD2", -2.0), (9999, "NEW", 9.0)],
        "id long, val string, x double",
    )
    before = set(_segments_of_head(mor))
    mor.upsert(src, mode="dv")
    ref.upsert(src)  # classic targeted rewrite as the semantics oracle
    assert _rows(mor.read()) == _rows(ref.read())
    after = _segments_of_head(mor)
    assert set(before) <= set(after)  # nothing rewritten
    assert len(after) == len(before) + 1
    # repeated mor upsert of the SAME key: newest image wins
    mor.upsert(
        spark.createDataFrame([(150, "UPD_AGAIN", 0.0)], "id long, val string, x double"),
        mode="dv",
    )
    assert mor.read().filter(F.col("id") == 150).first().val == "UPD_AGAIN"
    assert mor.read().count() == 401
    # compact folds the dvs away; results identical
    want = _rows(mor.read())
    mor.compact()
    assert _rows(mor.read()) == want
    assert mor._snapshot(mor.current_version())["dv"] == {}


def test_mor_merge_parity_with_rewrite_merge(spark, tmp_path):
    mor = _mk_banded(spark, str(tmp_path / "a"))
    ref = _mk_banded(spark, str(tmp_path / "b"))
    src = spark.createDataFrame(
        [
            (210, "upd", 1.0),   # matches update_cond -> update val only
            (215, "del", 0.0),   # matches delete_cond -> delete
            (220, "skip", 0.0),  # matches neither -> untouched
            (777, "ins", 7.0),   # unmatched -> insert
        ],
        "id long, val string, x double",
    )
    kw = dict(
        update_cols=["val"],
        update_cond="s.val = 'upd'",
        delete_cond="s.val = 'del'",
    )
    before = set(_segments_of_head(mor))
    mor.merge(src, mode="dv", **kw)
    ref.merge(src, **kw)
    assert _rows(mor.read()) == _rows(ref.read())
    got = {r.id: (r.val, r.x) for r in mor.read().collect()}
    assert got[210] == ("upd", 210.0)
    assert 215 not in got
    assert got[220] == ("v220", 220.0)  # untouched matched row, unmasked
    assert got[777] == ("ins", 7.0)
    assert set(before) <= set(_segments_of_head(mor))  # zero rewrites


def test_mor_merge_change_feed_still_correct(spark, tmp_path):
    store = _mk_banded(spark, str(tmp_path / "t"))
    v0 = store.current_version()
    store.merge(
        spark.createDataFrame(
            [(5, "changed", 5.5), (9998, "new", 1.0)],
            "id long, val string, x double",
        ),
        mode="dv",
    )
    ch = store.changes(v0 + 1).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert {r.id for r in by_type["insert"]} == {9998}
    assert {r.id for r in by_type["update_preimage"]} == {5}
    assert by_type["update_preimage"][0].val == "v5"
    assert {r.id for r in by_type["update_postimage"]} == {5}
    assert by_type["update_postimage"][0].val == "changed"


def test_targeted_upsert_job_count(spark, tmp_path, count_jobs):
    """A 1-row upsert into a 1-segment table: the collected key set enters
    as a broadcast LocalRelation, so the rewrite's anti-join shuffles
    nothing. 4 jobs (a list-built source in a sort-merge join ran 6)."""
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(20).selectExpr("id", "id * 2 AS x"))
    n, _ = count_jobs(
        lambda: st.upsert(spark.createDataFrame([(5, -1)], "id long, x long"))
    )
    assert n <= 4
    got = {r.id: r.x for r in st.read().collect()}
    assert got == {i: (-1 if i == 5 else i * 2) for i in range(20)}


def test_small_upserts_do_not_fragment_segment(spark, tmp_path):
    """A broadcast join keeps the scan's partitioning (one split per small
    file), so the survivors are coalesced by the touched bytes: ten 1-row
    upserts leave the rewritten segment at most two files (survivors +
    the new row), not one more file per statement."""
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(40).selectExpr("id", "id * 2 AS x"))
    for i in range(10):
        st.upsert(spark.createDataFrame([(i * 3, 1000 + i)], "id long, x long"))
    (seg,) = _segments_of_head(st)
    files = [
        f for f in os.listdir(os.path.join(st.root, seg)) if f.endswith(".parquet")
    ]
    assert len(files) <= 2, files
    assert st.read().count() == 40


@pytest.mark.parametrize("ktype", ["long", "string"])
def test_key_relation_paths_match_python_model(spark, tmp_path, ktype):
    """upsert and delete_keys in both modes, and dv-masked reads, against
    a Python model — once with the broadcast key relation (targeted) and
    once with max_targeted_keys=1, where every multi-key statement takes
    the distributed join. Both must produce the model's rows exactly."""

    def k(i):
        return i if ktype == "long" else f"k{i:03d}"

    schema = f"id {ktype}, x long"

    def frame(pairs):
        return spark.createDataFrame([(k(i), x) for i, x in pairs], schema)

    def keys(*ids):
        return spark.createDataFrame([(k(i),) for i in ids], f"id {ktype}")

    results = []
    for cap in (None, 1):
        st = TableStore(
            spark, str(tmp_path / f"t{cap}"), key="id", stats_cols=("id",)
        )
        if cap is not None:
            st.max_targeted_keys = cap
        model = {k(i): i for i in range(12)}
        st.init(frame([(i, i) for i in range(6)]))
        st.append(frame([(i, i) for i in range(6, 12)]))

        def upsert(pairs, mode):
            st.upsert(frame(pairs), mode=mode)
            model.update({k(i): x for i, x in pairs})

        def delete(ids, mode):
            removed = st.delete_keys(keys(*ids), mode=mode)
            assert removed == sum(k(i) in model for i in ids)
            for i in ids:
                model.pop(k(i), None)

        def check():
            got = sorted((r.id, r.x) for r in st.read().collect())
            assert got == sorted(model.items())
            for i in (2, 5, 8, 30):
                pt = st.read().filter(F.col("id") == k(i)).collect()
                assert [(r.id, r.x) for r in pt] == (
                    [(k(i), model[k(i)])] if k(i) in model else []
                )
            return got

        upsert([(1, 100), (20, 200)], "rewrite")
        upsert([(2, 101), (3, 102), (21, 201)], "dv")
        delete([4, 5, 40], "dv")
        check()
        delete([6, 21], "rewrite")
        upsert([(5, 300)], "dv")  # re-inserts a dv-deleted key
        delete([2, 7], "dv")
        check()
        upsert([(8, 400), (3, 401)], "rewrite")  # rewrites dv-masked files
        results.append(check())
    assert results[0] == results[1]


def test_noop_deletes_commit_nothing_and_keyed_delete_jobs(
    spark, tmp_path, count_jobs
):
    """A delete that removes nothing commits nothing, in both modes of
    both deletes; and a 1-key rewrite-mode delete_keys reads its touched
    base once (persisted, one count, one write): under 8 Spark jobs."""
    st = TableStore(spark, str(tmp_path / "t"), key="id", stats_cols=("id",))
    st.init(spark.range(20).selectExpr("id", "id * 2 AS x"))
    gone = spark.createDataFrame([(5,)], "id long")
    assert st.delete_keys(gone) == 1
    v = st.current_version()
    for mode in ("rewrite", "dv"):
        assert st.delete_keys(gone, mode=mode) == 0
        assert st.delete_where(where="x = 10", predicate={"id": (0, 9)}, mode=mode) == 0
        assert st.current_version() == v
    n, removed = count_jobs(
        lambda: st.delete_keys(spark.createDataFrame([(6,)], "id long"))
    )
    assert removed == 1
    assert n < 8
    assert sorted(r.id for r in st.read().collect()) == [
        i for i in range(20) if i not in (5, 6)
    ]


def test_multi_row_key_ops_match_list_model(spark, tmp_path):
    """Model-based check on a table whose key repeats across rows (the
    lake's events/messages shape), partitioned, with bloom sidecars on
    the key: one fixed seed drives every targeted statement in every mode
    it has, and after each the table must equal a Python list-of-rows
    model. Rewrite mode is row-exact; dv mode masks by key, so a
    statement matching only some of a key's rows must raise and change
    nothing. (A dict model cannot see a lost sibling row.)"""
    import random

    rng = random.Random(11)
    schema = "sid string, eid long, day string, v string"
    days = ("d0", "d1")
    st = TableStore(
        spark, str(tmp_path / "m"), key="sid", stats_cols=("sid", "eid"),
        bloom_cols=("sid",), partition_by=("day",),
    )
    model = []
    eid = 0

    def fresh(sid, n):
        nonlocal eid
        out = []
        for _ in range(n):
            out.append((sid, eid, rng.choice(days), f"v{eid}"))
            eid += 1
        return out

    for k in range(6):
        model += fresh(f"s{k}", 3)
    st.init(spark.createDataFrame(model, schema))

    def where_rows(rows, where):
        kind, arg = where
        if kind == "key":
            return [r for r in rows if r[0] == arg]
        if kind == "day":
            return [r for r in rows if r[2] == arg]
        return [r for r in rows if r[1] % 2 == arg]

    def sql(where):
        kind, arg = where
        return {"key": f"sid = '{arg}'", "day": f"day = '{arg}'"}.get(
            kind, f"eid % 2 = {arg}"
        )

    def whole_keys(matched, scope):
        keys = {r[0] for r in matched}
        return len(matched) == sum(r[0] in keys for r in scope)

    ops = [
        (op, mode)
        for op in ("upsert", "update", "delete_where", "delete_keys")
        for mode in ("rewrite", "dv")
    ] + [("overwrite_where", "rewrite")]
    rng.shuffle(ops)
    for step, (op, mode) in enumerate(ops):
        sids = sorted({r[0] for r in model})
        where = rng.choice(
            [("key", rng.choice(sids)), ("day", rng.choice(days)), ("eid", step % 2)]
        )
        before = st.current_version()
        raised = False
        if op == "upsert":
            keys = rng.sample(sids, 1) + [f"n{step}"]
            src = [r for k in keys for r in fresh(k, rng.randint(1, 2))]
            st.upsert(spark.createDataFrame(src, schema), mode=mode)
            model = [r for r in model if r[0] not in keys] + src
        elif op == "update":
            hit = where_rows(model, where)
            if mode == "dv" and not whole_keys(hit, model):
                with pytest.raises(ValueError, match="SOME rows"):
                    st.update({"v": f"'u{step}'"}, where=sql(where), mode=mode)
                raised = True
            else:
                n = st.update({"v": f"'u{step}'"}, where=sql(where), mode=mode)
                assert n == len(hit)
                model = [
                    (r[0], r[1], r[2], f"u{step}") if r in hit else r for r in model
                ]
        elif op == "delete_where":
            day = rng.choice(days)
            scope = [r for r in model if r[2] == day]
            hit = where_rows(scope, where)
            if mode == "dv" and not whole_keys(hit, scope):
                with pytest.raises(ValueError, match="SOME rows"):
                    st.delete_where(sql(where), predicate={"day": day}, mode=mode)
                raised = True
            else:
                removed = st.delete_where(
                    sql(where), predicate={"day": day}, mode=mode
                )
                assert removed == len(hit)
                model = [r for r in model if r not in hit]
        elif op == "delete_keys":
            keys = rng.sample(sids, 2)
            removed = st.delete_keys(
                spark.createDataFrame([(k,) for k in keys], "sid string"), mode=mode
            )
            assert removed == sum(r[0] in keys for r in model)
            model = [r for r in model if r[0] not in keys]
        else:
            day = rng.choice(days)
            src = [(s, e, day, v) for s, e, _, v in fresh(rng.choice(sids), 2)]
            st.overwrite_where(spark.createDataFrame(src, schema), {"day": day})
            model = [r for r in model if r[2] != day] + src
        if raised:
            assert st.current_version() == before
        got = sorted(tuple(r) for r in st.read().collect())
        assert got == sorted(model), f"step={step} op={op} mode={mode} where={where}"

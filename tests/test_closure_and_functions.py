"""Iterative closure plans (J3/J4/J8/J9) + scalar/cron function unit tests."""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lakehouse_spark.functions import cron, scalar
from lakehouse_spark.plans import closure


def test_descendants_with_cycle_and_depth_cap(spark):
    # 1→2→3→1 cycle plus 2→4; closure from 1 must terminate and keep min depth
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)], "parent long, child long"
    )
    seeds = spark.createDataFrame([(1,)], "child long")
    got = {
        (r.child, r.depth)
        for r in closure.descendants(edges, seeds, "parent", "child").collect()
    }
    assert got == {(1, 0), (2, 1), (3, 2), (4, 2)}

    capped = closure.descendants(edges, seeds, "parent", "child", max_depth=1)
    assert {r.child for r in capped.collect()} == {1, 2}


def test_bfs_reachable_diamond(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {(r.node, r.depth) for r in closure.bfs_reachable(edges, seeds, "src", "dst").collect()}
    assert got == {("a", 0), ("b", 1), ("c", 1), ("d", 2)}  # d reached once, min depth


def test_cascade_delete_targets(spark):
    table = spark.createDataFrame(
        [("r", None), ("c1", "r"), ("c2", "c1"), ("other", None)],
        "id string, parent string",
    )
    seeds = spark.createDataFrame([("r",)], "id string")
    doomed = closure.cascade_delete_targets(table, seeds, "id", "parent")
    assert sorted(r.id for r in doomed.collect()) == ["c1", "c2", "r"]


def test_nearest_ancestor_attr(spark):
    nodes = spark.createDataFrame(
        [("a/b/c/file",), ("a/x",), ("z/q",)], "path string"
    )
    dirs = spark.createDataFrame(
        [("a", "p_root"), ("a/b", "p_mid"), ("a/b/c", None)],
        "path string, default_profile string",
    )
    out = {
        r.path: r.inherited_default_profile
        for r in closure.nearest_ancestor_attr(
            nodes, dirs, "path", "default_profile"
        ).collect()
    }
    assert out == {"a/b/c/file": "p_mid", "a/x": "p_root", "z/q": None}


# --- descendants: the driver walk against the frontier loop ---------------


def _closure_rows(spark, monkeypatch, edges, seeds, loop: bool, **kw):
    edf = spark.createDataFrame(edges, "parent long, child long")
    sdf = spark.createDataFrame(seeds, "child long")
    with monkeypatch.context() as m:
        if loop:
            m.setattr(closure, "_DRIVER_CAP", 0)
        out = closure.descendants(edf, sdf, "parent", "child", **kw)
        plan = out._jdf.queryExecution().analyzed().getClass().getSimpleName()
        # the driver walk answers with a LocalRelation, the loop with
        # checkpointed steps: prove which path ran
        assert (plan == "LocalRelation") != loop, plan
        shape = [(f.name, f.dataType) for f in out.schema]
        return shape, Counter(map(tuple, out.collect()))


def _assert_paths_agree(spark, monkeypatch, edges, seeds, **kw):
    driver = _closure_rows(spark, monkeypatch, edges, seeds, False, **kw)
    loop = _closure_rows(spark, monkeypatch, edges, seeds, True, **kw)
    assert driver == loop
    return driver[1]


@pytest.mark.parametrize(
    "edges,seeds,kw",
    [
        # cycle 1→2→3→1 plus a self-loop on 3 and a diamond 2→{4,5}→6
        ([(1, 2), (2, 3), (3, 1), (3, 3), (2, 4), (2, 5), (4, 6), (5, 6)],
         [(1,)], {}),
        # NULL parents never match; a NULL child is emitted once per round
        # that reaches one (it is never "visited")
        ([(None, 1), (1, None), (1, 2), (2, None), (2, 3), (None, None)],
         [(1,)], {}),
        # duplicate seeds, a NULL seed, a seed reached from another seed
        ([(1, 2), (2, 3), (3, 4)], [(1,), (1,), (3,), (None,)], {}),
        ([(1, 2), (2, 3), (3, 4), (4, 5)], [(1,)], {"max_depth": 2}),
        ([(1, 2), (2, 3), (3, 1)], [(1,)], {"include_seeds": False}),
        ([(1, 2)], [(7,)], {"max_depth": 0}),
    ],
    ids=["cycle-diamond-selfloop", "null-ends", "dup-seeds", "max-depth",
         "no-seeds", "depth-zero"],
)
def test_descendants_driver_walk_matches_loop(spark, monkeypatch, edges, seeds, kw):
    _assert_paths_agree(spark, monkeypatch, edges, seeds, **kw)


def test_descendants_null_child_once_per_round(spark, monkeypatch):
    got = _assert_paths_agree(
        spark, monkeypatch, [(1, None), (1, 2), (2, None)], [(1,)]
    )
    assert got == Counter({(1, 0): 1, (2, 1): 1, (None, 1): 1, (None, 2): 1})


@st.composite
def _graphs(draw):
    n = draw(st.integers(2, 7))
    node = st.one_of(st.none(), st.integers(0, n - 1))
    edges = draw(st.lists(st.tuples(node, node), max_size=14))
    seeds = draw(st.lists(st.tuples(node), min_size=1, max_size=3))
    return edges, seeds, draw(st.integers(0, 4))


@given(_graphs())
@settings(
    max_examples=3, derandomize=True, database=None, deadline=None,
    suppress_health_check=list(HealthCheck),
)
def test_descendants_paths_agree_on_generated_graph(spark, monkeypatch, g):
    edges, seeds, depth = g
    _assert_paths_agree(spark, monkeypatch, edges, seeds, max_depth=depth)


def test_descendants_mixed_types_run_the_loop(spark):
    # int seeds over long edges: not one driver-safe type, so the loop runs
    # (and widens the node column the way unionByName does)
    edges = spark.createDataFrame([(1, 2)], "parent long, child long")
    seeds = spark.createDataFrame([(1,)], "child int")
    out = closure.descendants(edges, seeds, "parent", "child")
    plan = out._jdf.queryExecution().analyzed().getClass().getSimpleName()
    assert plan != "LocalRelation"
    assert sorted(map(tuple, out.collect())) == [(1, 0), (2, 1)]


# --- cron / interval / once (T9/T10/CR2) -----------------------------------


AFTER = datetime(2026, 1, 15, 10, 30, tzinfo=timezone.utc)


@pytest.mark.parametrize(
    "expr,expected",
    [
        ("0 9 * * *", datetime(2026, 1, 16, 9, 0, tzinfo=timezone.utc)),
        ("*/30 * * * *", datetime(2026, 1, 15, 11, 0, tzinfo=timezone.utc)),
        ("0 0 1 * *", datetime(2026, 2, 1, 0, 0, tzinfo=timezone.utc)),
        # Jan 15 2026 is a Thursday → next weekday 14:15 is same day
        ("15 14 * * 1-5", datetime(2026, 1, 15, 14, 15, tzinfo=timezone.utc)),
        ("30 10 * * *", datetime(2026, 1, 16, 10, 30, tzinfo=timezone.utc)),  # strict >
    ],
)
def test_cron_next(expr, expected):
    assert cron.cron_next(expr, AFTER) == expected


def test_next_execution_kinds():
    assert cron.next_execution("interval", "30m", AFTER) == datetime(
        2026, 1, 15, 11, 0, tzinfo=timezone.utc
    )
    assert cron.next_execution("once", "2030-06-01T12:00:00+00:00", AFTER) == datetime(
        2030, 6, 1, 12, 0, tzinfo=timezone.utc
    )
    # past 'once' and bogus values → None, never an exception
    assert cron.next_execution("once", "2020-01-01T00:00:00+00:00", AFTER) is None
    assert cron.next_execution("interval", "bogus", AFTER) is None
    assert cron.next_execution("cron", "not a cron", AFTER) is None


def test_interval_to_seconds(spark):
    df = spark.createDataFrame(
        [("30s",), ("5m",), ("2h",), ("1d",), ("junk",)], "v string"
    )
    got = [
        r.s for r in df.select(scalar.interval_to_seconds("v").alias("s")).collect()
    ]
    assert got == [30, 300, 7200, 86400, None]


def test_scalar_string_functions(spark):
    df = spark.createDataFrame(
        [("docs/notes/plan.yaml", "hey @alice and @\"my file.md\" not code")],
        "path string, msg string",
    )
    row = df.select(
        scalar.path_last_segment("path").alias("last"),
        scalar.path_parent("path").alias("parent"),
        scalar.strip_suffix("path", ".yaml").alias("stripped"),
        scalar.path_depth("path").alias("depth"),
        scalar.extract_mentions("msg").alias("mentions"),
    ).collect()[0]
    assert row.last == "plan.yaml"
    assert row.parent == "docs/notes"
    assert row.stripped == "docs/notes/plan"
    assert row.depth == 3
    assert row.mentions == ["my file.md", "alice"]


def test_truncate_and_duration(spark):
    df = spark.createDataFrame([("x" * 1200, 5000, 1000)], "s string, e long, b long")
    row = df.select(
        F.length(scalar.truncate_payload("s")).alias("l"),
        scalar.duration_ms(F.col("e"), F.col("b")).alias("d"),
    ).collect()[0]
    assert row.l == 1000 + len("... (truncated)")
    assert row.d == 4000


def test_iso_to_millis(spark):
    df = spark.createDataFrame(
        [("2026-01-01T00:00:01.500+00:00",), ("garbage",), (None,)], "ts string"
    )
    got = [r.ms for r in df.select(scalar.iso_to_millis("ts").alias("ms")).collect()]
    assert got == [1767225601500, 0, 0]


def test_hour_conversions(spark):
    df = spark.createDataFrame(
        [(12, "AM"), (12, "PM"), (1, "am"), (11, "pm"), (13, "PM")],
        "h int, m string",
    )
    got = [r.h24 for r in df.select(scalar.hour_12_to_24("h", "m").alias("h24")).collect()]
    assert got == [0, 12, 1, 23, None]

    df24 = spark.createDataFrame([(0,), (12,), (15,), (25,)], "h int")
    back = [
        (r.c.hour12, r.c.meridiem) if r.c else None
        for r in df24.select(scalar.hour_24_to_12("h").alias("c")).collect()
    ]
    assert back == [(12, "AM"), (12, "PM"), (3, "PM"), None]


def test_yaml_documents(spark, tmp_path):
    from lakehouse_spark.sources import yamlcfg

    (tmp_path / "profile.yaml").write_text("name: default\nversion: 2\n")
    (tmp_path / "broken.yaml").write_text("a: [unclosed\n  - x: {")
    (tmp_path / "scalar.yaml").write_text("just a string")
    df = yamlcfg.read_yaml_documents(
        spark, str(tmp_path / "*.yaml"), "name string, version int, _source_file string"
    )
    rows = df.collect()
    assert len(rows) == 1  # malformed + non-mapping skipped
    assert rows[0].name == "default" and rows[0].version == 2
    assert rows[0]._source_file.endswith("profile.yaml")


def test_safe_path_predicate(spark):
    from lakehouse_spark.operators import filters

    rows = [
        ("docs/readme.md", True),
        ("a/b/c.txt", True),
        ("..", False),              # bare parent ref
        ("../etc/passwd", False),   # escapes root
        ("a/../../b", False),       # escapes mid-path
        ("/abs/path", False),       # absolute
        ("", False),                # empty
        ("a\\b", False),            # windows separator smuggling
        ("a/..b/c", True),          # '..' as prefix of a segment is fine
        ("..hidden/x", True),       # segment merely starting with dots
    ]
    df = spark.createDataFrame([(p,) for p, _ in rows], "path string")
    kept = {r.path for r in filters.only_safe_paths(df).collect()}
    assert kept == {p for p, ok in rows if ok}


def test_extract_mentions_reference_spec(spark):
    """Edge cases translated from the reference's mention test suite
    (amplifierd/tests/utils/test_mentions.py, read as the behavioral spec):
    extraction must match parse_mentions stage-for-stage (minus the '@'
    prefix, which this engine strips at extraction)."""
    cases = [
        ("See @file1.md and @file2.txt", ["file1.md", "file2.txt"]),
        ("Use `@code` not @real", ["real"]),
        # inline-code removal JOINS the surrounding text; the lookbehind
        # then rejects the now-embedded mention
        ("abc`code`@real", []),
        # plain double/single-quoted strings are stripped before the simple pass
        ('say "@fake" and @real', ["real"]),
        ("say '@fake' and @real", ["real"]),
        ('Use @"My Document.md" here', ["My Document.md"]),
        ('@"file (1).md" and @"test [draft].txt"',
         ["file (1).md", "test [draft].txt"]),
        # quoted results come first, then simple — reference order
        ('see @simple.md and @"path with spaces.md"',
         ["path with spaces.md", "simple.md"]),
        ('open @"docs/my folder/README.md"', ["docs/my folder/README.md"]),
        ("check @coding-standards:STYLE.md", ["coding-standards:STYLE.md"]),
        ("see @./local.md and @../parent.md", ["./local.md", "../parent.md"]),
        ("a generic @mention plus @file.md", ["file.md"]),
        ("email user@domain.com has no mention", []),
        ("dash-file @my-file_v2.md", ["my-file_v2.md"]),
        ("no mentions here", []),
    ]
    df = spark.createDataFrame(
        [(i, text) for i, (text, _) in enumerate(cases)], "i long, text string"
    )
    got = {
        r.i: list(r.m)
        for r in df.select("i", scalar.extract_mentions("text").alias("m")).collect()
    }
    for i, (text, want) in enumerate(cases):
        assert got[i] == want, f"{text!r}: {got[i]} != {want}"

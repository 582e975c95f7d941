"""End-to-end facade test: reference-layout state dir → SessionLake →
every query surface from SURVEY.md §3."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.api import SessionLake


def _iso(h, m=0, s=0):
    return f"2026-06-01T{h:02d}:{m:02d}:{s:02d}+00:00"


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    state = tmp_path_factory.mktemp("state")
    (state / "sessions").mkdir()
    (state / "transcripts").mkdir()
    (state / "events").mkdir()

    sessions = [
        dict(session_id="root", name="root", parent_session_id=None,
             amplified_dir="projA", status="active", created_at=_iso(9),
             started_at=_iso(9), ended_at=None, profile_name="default",
             message_count=0, agent_invocations=0, token_usage=None,
             error_message=None, error_details=None, is_unread=True,
             last_read_at=None, encounter_seq=1),
        dict(session_id="child1", name="c1", parent_session_id="root",
             amplified_dir="projA", status="completed", created_at=_iso(10),
             started_at=_iso(10), ended_at=_iso(11), profile_name="default",
             message_count=0, agent_invocations=0, token_usage=None,
             error_message=None, error_details=None, is_unread=False,
             last_read_at=None, encounter_seq=2),
        dict(session_id="grandchild", name="gc", parent_session_id="child1",
             amplified_dir="projA", status="completed", created_at=_iso(10, 30),
             started_at=None, ended_at=None, profile_name="other",
             message_count=0, agent_invocations=0, token_usage=None,
             error_message=None, error_details=None, is_unread=True,
             last_read_at=None, encounter_seq=3),
        dict(session_id="loner", name="solo", parent_session_id=None,
             amplified_dir="projB", status="active", created_at=_iso(12),
             started_at=None, ended_at=None, profile_name="default",
             message_count=0, agent_invocations=0, token_usage=None,
             error_message=None, error_details=None, is_unread=True,
             last_read_at=None, encounter_seq=4),
    ]
    for s in sessions:
        (state / "sessions" / f"{s['session_id']}.json").write_text(json.dumps(s))

    msgs = [
        dict(session_id="root", timestamp=_iso(9, 1), role="user",
             content="hello", agent=None, token_count=5, encounter_seq=1),
        dict(session_id="root", timestamp=_iso(9, 2), role="assistant",
             content="hi", agent=None, token_count=7, encounter_seq=2),
        dict(session_id="root", timestamp=_iso(9, 3), role="user",
             content="bye", agent=None, token_count=3, encounter_seq=3),
        dict(session_id="loner", timestamp=_iso(12, 1), role="user",
             content="solo msg", agent=None, token_count=2, encounter_seq=1),
    ]
    (state / "transcripts" / "all.jsonl").write_text(
        "\n".join(json.dumps(m) for m in msgs) + "\nnot json\n"
    )

    evs = [
        dict(session_id="root", ts=_iso(9, 1), lvl="INFO", event="prompt:submit",
             data={"prompt": "hello"}, encounter_seq=1),
        dict(session_id="root", ts=_iso(9, 1, 30), lvl="INFO", event="tool:pre",
             data={"tool_name": "Bash"}, encounter_seq=2),
        dict(session_id="root", ts=_iso(9, 2), lvl="INFO", event="tool:post",
             data={"tool_name": "Bash",
                   "result": {"success": True, "output": "ok", "error": None}},
             encounter_seq=3),
        dict(session_id="root", ts=_iso(9, 3), lvl="DEBUG", event="other:noise",
             data=None, encounter_seq=4),
        dict(session_id="root", ts=_iso(9, 4), lvl="INFO", event="session:end",
             data=None, encounter_seq=5),
        dict(session_id="child1", ts=_iso(10, 1), lvl="INFO", event="prompt:submit",
             data={"prompt": "sub"}, encounter_seq=1),
    ]
    (state / "events" / "all.jsonl").write_text(
        "\n".join(json.dumps(e) for e in evs)
    )

    root = tmp_path_factory.mktemp("lake")
    return SessionLake.from_jsonl(spark, str(root), str(state))


def test_list_sessions_filters_and_order(lake):
    got = [r.session_id for r in lake.list_sessions(status="active").collect()]
    assert got == ["loner", "root"]  # newest-first
    assert [
        r.session_id
        for r in lake.list_sessions(amplified_dir="projA", unread_only=True).collect()
    ] == ["grandchild", "root"]
    assert [
        r.session_id
        for r in lake.list_sessions(
            since=datetime(2026, 6, 1, 11, tzinfo=timezone.utc), limit=1
        ).collect()
    ] == ["loner"]


def test_unread_counts_and_counters(lake):
    assert {
        r.amplified_dir: r.n for r in lake.unread_counts().collect()
    } == {"projA": 2, "projB": 1}
    counters = {
        r.session_id: (r.message_count, r.token_usage)
        for r in lake.session_counters().collect()
    }
    assert counters["root"] == (3, 15)  # malformed transcript line skipped
    assert counters["loner"] == (1, 2)


def test_message_tail(lake):
    got = [r.content for r in lake.message_tail("root", n=2).collect()]
    assert got == ["hi", "bye"]  # last two, restored to log order


def test_events_page_filters(lake):
    tool_events = lake.events_page("root", prefix="tool:")
    assert [r.event for r in tool_events.collect()] == ["tool:pre", "tool:post"]
    info_only = lake.events_page("root", lvl="INFO")
    assert info_only.count() == 4
    merged = lake.events_page("root", include_children=True)
    assert merged.count() == 6  # child1's events union in (J7)


def test_execution_trace_and_metrics(lake):
    turns = {
        (r.session_id, r.turn_id): r for r in lake.execution_trace().collect()
    }
    root_turn = turns[("root", 1)]
    assert root_turn.status == "completed"
    assert [t.name for t in root_turn.tools] == ["Bash"]
    assert turns[("child1", 1)].status == "active"  # unclosed at EOF

    m = {r.session_id: r for r in lake.trace_metrics().collect()}
    assert m["root"].total_tools == 1
    assert m["root"].longest_tool == "Bash"


def test_daemon_reads_run_only_the_jobs_they_need(lake, count_jobs):
    """A small session tree is walked on the driver after one bounded
    collect of the edges (the seed is a LocalRelation: no job); a
    one-session tail is one top-n; the trace metrics fold the turns once,
    per turn, with no session-size probe job."""
    lake.session_closure("root").collect()  # warm the store's caches
    n, rows = count_jobs(lambda: lake.session_closure("root").collect())
    assert n <= 2
    assert {r.child for r in rows} == {"root", "child1", "grandchild"}

    lake.message_tail("root", n=2).collect()
    n, rows = count_jobs(lambda: lake.message_tail("root", n=2).collect())
    assert n == 1
    assert [r.content for r in rows] == ["hi", "bye"]

    plan = lake.trace_metrics("root")._jdf.queryExecution().executedPlan()
    assert plan.toString().count("FlatMapGroupsInPandas") == 1
    lake.trace_metrics("root").collect()
    n, rows = count_jobs(lambda: lake.trace_metrics("root").collect())
    assert n <= 3
    assert [r.total_tools for r in rows] == [1]


def test_closure_delete_and_cleanup(lake):
    ids = {r.child for r in lake.session_closure("root").collect()}
    assert ids == {"root", "child1", "grandchild"}

    removed = lake.cascade_delete("child1")
    assert removed == 2  # child1 + grandchild
    assert {r.session_id for r in lake.sessions.read().collect()} == {"root", "loner"}
    assert lake.events.read().filter(F.col("session_id") == "child1").count() == 0

    # retention: root has no ended_at → created_at governs; cutoff after
    # both creations removes everything not recently ended
    n = lake.cleanup(older_than_days=30, now=datetime(2026, 8, 1, tzinfo=timezone.utc))
    assert n == 2


def test_events_page_keyset_walk_matches_offset(lake):
    """Keyset pagination (the scale default) must produce the same walk as
    offset paging over the (ts, encounter_seq) total order."""
    all_rows = lake.events_page("root", limit=100).collect()
    assert len(all_rows) >= 3

    # keyset walk, 2 rows at a time
    walked, after = [], None
    while True:
        page = lake.events_page("root", after=after, limit=2).collect()
        if not page:
            break
        walked.extend(page)
        last = page[-1]
        after = (last.ts, last.encounter_seq)
    assert [r.encounter_seq for r in walked] == [
        r.encounter_seq for r in all_rows
    ]

    # offset access path still works and agrees
    offset_page = lake.events_page("root", offset=1, limit=2).collect()
    assert [r.encounter_seq for r in offset_page] == [
        r.encounter_seq for r in all_rows[1:3]
    ]


def test_page_probe_matches_page_stats(lake, spark):
    from lakehouse_spark.operators import aggregates as agg

    df = lake.events_page("root", limit=1000)
    total, has_more = agg.page_stats(df, 0, 2)
    assert agg.page_probe(df, 0, 2) == has_more
    assert agg.page_probe(df, 0, total) is False
    assert agg.page_probe(df, total, 1) is False


def test_lake_automations_surface(lake):
    from datetime import datetime, timezone

    now = datetime(2026, 6, 1, 12, 0, tzinfo=timezone.utc)
    mgr = lake.automations
    a = mgr.create("auto-1", "projA", "nightly", "run", "cron", "0 2 * * *", now)
    assert a.next_execution == datetime(2026, 6, 2, 2, 0)
    assert lake.automations is mgr  # lazily built once
    later = datetime(2026, 6, 2, 3, 0, tzinfo=timezone.utc)
    assert [r.id for r in mgr.due(later).collect()] == ["auto-1"]


def test_clone_session_remaps_subtree(spark, tmp_path_factory):
    """Reference clone semantics (routers/sessions.py:461-516): the cloned
    subtree is ISOMORPHIC to the source (same parent/child structure, same
    non-id attributes), every id is FRESH (disjoint from all existing ids),
    the root clone gets " (copy)" and a NULL parent, and transcript/events
    rows are copied under the new ids."""
    from lakehouse_spark.schemas import MESSAGE, SESSION

    root = str(tmp_path_factory.mktemp("clone_lake"))
    lake = SessionLake(spark, root)

    def sess(sid, parent, name):
        return (sid, name, parent, "projA", "active", None, None, None,
                "default", 0, 0, None, None, None, False, None, 1)

    lake.sessions.init(spark.createDataFrame(
        [sess("root", None, "r"), sess("c1", "root", "child one"),
         sess("c2", "root", "child two"), sess("gc", "c1", "grand"),
         sess("other", None, "unrelated")], SESSION))
    lake.messages.init(spark.createDataFrame(
        [("c1", None, "user", "hello", None, 3, 1),
         ("other", None, "user", "not cloned", None, 1, 1)], MESSAGE))

    new_root = lake.clone_session("root", seed="t1")

    sessions = lake.sessions.read().collect()
    by_id = {r.session_id: r for r in sessions}
    assert len(sessions) == 9  # 5 originals + 4 clones
    # deterministic root id, " (copy)" suffix, NULL parent
    assert by_id[new_root].name == "r (copy)"
    assert by_id[new_root].parent_session_id is None

    old_ids = {"root", "c1", "c2", "gc", "other"}
    clones = [r for r in sessions if r.session_id not in old_ids]
    assert len(clones) == 4 and new_root in {r.session_id for r in clones}

    # isomorphism: child-name multiset per parent matches the source tree
    def children(ids, rows):
        return {
            r.name.replace(" (copy)", ""): r.session_id
            for r in rows if r.parent_session_id in ids
        }
    l1 = children({new_root}, clones)
    assert set(l1) == {"child one", "child two"}
    l2 = children(set(l1.values()), clones)
    assert set(l2) == {"grand"}
    # descendants keep their names verbatim
    assert all(" (copy)" not in n for n in list(l1) + list(l2))

    # messages copied under the remapped id, untouched elsewhere
    msgs = lake.messages.read().collect()
    assert len(msgs) == 3
    cloned_msg = [m for m in msgs if m.session_id == l1["child one"]]
    assert len(cloned_msg) == 1 and cloned_msg[0].content == "hello"

    # seeded clone is replayable: same seed on an identical tree gives the
    # same ids (fresh lake to avoid id collisions with the first clone)
    root2 = str(tmp_path_factory.mktemp("clone_lake2"))
    lake2 = SessionLake(spark, root2)
    lake2.sessions.init(spark.createDataFrame(
        [sess("root", None, "r"), sess("c1", "root", "child one"),
         sess("c2", "root", "child two"), sess("gc", "c1", "grand"),
         sess("other", None, "unrelated")], SESSION))
    assert lake2.clone_session("root", seed="t1") == new_root
    # unseeded clone still works and yields fresh ids
    third = lake2.clone_session("root")
    assert third not in {new_root, "root"}


def test_clone_session_unknown_id_raises(spark, tmp_path_factory):
    from lakehouse_spark.schemas import SESSION

    root = str(tmp_path_factory.mktemp("clone_404"))
    lake = SessionLake(spark, root)
    lake.sessions.init(spark.createDataFrame(
        [("only", "n", None, "p", "active", None, None, None,
          "d", 0, 0, None, None, None, False, None, 1)], SESSION))
    n_before = lake.sessions.read().count()
    with pytest.raises(KeyError, match="ghost"):
        lake.clone_session("ghost", seed="x")
    assert lake.sessions.read().count() == n_before  # nothing appended


def test_snapshot_gives_consistent_view_across_writes(spark, tmp_path_factory):
    """A snapshot taken before concurrent-style writes keeps reading the
    old state of EVERY table, while live reads see the new one."""
    from lakehouse_spark.schemas import MESSAGE, SESSION

    root = str(tmp_path_factory.mktemp("snap_lake"))
    lake = SessionLake(spark, root)
    mk = lambda sid: (sid, sid, None, "p", "active", None, None, None,
                      "d", 0, 0, None, None, None, False, None, 1)
    lake.sessions.init(spark.createDataFrame([mk("s1")], SESSION))
    lake.messages.init(spark.createDataFrame(
        [("s1", None, "user", "hi", None, 1, 1)], MESSAGE))

    snap = lake.snapshot()

    # writes after the snapshot: new session + its message
    lake.sessions.append(spark.createDataFrame([mk("s2")], SESSION))
    lake.messages.append(spark.createDataFrame(
        [("s2", None, "user", "later", None, 1, 2)], MESSAGE))

    assert lake.sessions.read().count() == 2  # live view moved on
    assert {r.session_id for r in lake.read_at(snap, "sessions").collect()} == {"s1"}
    assert {r.session_id for r in lake.read_at(snap, "messages").collect()} == {"s1"}
    # the snapshot's tables AGREE: every message's session exists in it
    msgs = lake.read_at(snap, "messages")
    sess = lake.read_at(snap, "sessions")
    assert msgs.join(sess, "session_id", "left_anti").isEmpty()


def test_lake_sql_by_name(lake):
    """Round-8: the lake's tables as named SQL relations — the reference's
    name-addressed query surface (routers/sessions.py). A join over two
    registered views with named parameters must agree with the DataFrame
    API, and the plan must show pushed filters (parquet-native views)."""
    cat = lake.register_views()
    assert set(cat.names()) >= {"sessions", "messages", "events"}
    got = lake.sql(
        """
        SELECT s.session_id, count(*) AS n_events
        FROM sessions s JOIN events e ON s.session_id = e.session_id
        WHERE s.status = :status
        GROUP BY s.session_id ORDER BY s.session_id
        """,
        args={"status": "active"},
    )
    active = {
        r.session_id for r in lake.sessions.read().filter("status = 'active'").collect()
    }
    ev = lake.events.read()
    want = sorted(
        (sid, ev.filter(ev.session_id == sid).count())
        for sid in active
        if ev.filter(ev.session_id == sid).count() > 0
    )
    assert sorted((r.session_id, r.n_events) for r in got.collect()) == want
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan

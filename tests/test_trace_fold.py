"""Golden-fixture tests for the S1 marker-based trace fold
(operators/sessionize.aggregate_trace) — edge cases implied by the
reference's code paths (SURVEY.md §5): malformed timestamps, unclosed
turns, unmatched tool:post, back-to-back prompts, error results,
payload truncation, sub-agent child-session extraction.
"""

from __future__ import annotations

import os
import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from lakehouse_spark.operators.sessionize import _fold_session, aggregate_trace
from lakehouse_spark.schemas import TRACE_EVENT, TRACE_TURN


def _ev(seq, event, ts="2026-01-01T00:00:00+00:00", session="s1", **data):
    base = {
        "prompt": None,
        "tool_name": None,
        "tool_input": None,
        "parallel_group_id": None,
        "delta": None,
        "result": None,
    }
    base.update(data)
    return (session, ts, "INFO", event, base, seq)


def _turns(spark, rows):
    df = spark.createDataFrame(rows, TRACE_EVENT)
    return {
        (t["session_id"], t["turn_id"]): t
        for t in (r.asDict(recursive=True) for r in aggregate_trace(df).collect())
    }


def test_basic_turn_with_tool(spark):
    rows = [
        _ev(1, "prompt:submit", "2026-01-01T00:00:00+00:00", prompt="hi"),
        _ev(2, "tool:pre", "2026-01-01T00:00:01+00:00", tool_name="Bash"),
        _ev(
            3,
            "tool:post",
            "2026-01-01T00:00:03.500000+00:00",
            tool_name="Bash",
            result={"success": True, "output": "ok", "error": None},
        ),
        _ev(4, "thinking:delta", delta="hmm"),
        _ev(5, "session:end", "2026-01-01T00:00:05+00:00"),
    ]
    t = _turns(spark, rows)[("s1", 1)]
    assert t["status"] == "completed"
    assert t["user_message"] == "hi"
    assert t["end_time"] == 1767225605000
    (tool,) = t["tools"]
    assert tool["status"] == "completed"
    assert tool["result"] == "ok"
    assert tool["duration"] == 2500
    assert len(t["thinking"]) == 1


def test_back_to_back_prompts_implicit_close(spark):
    rows = [
        _ev(1, "prompt:submit", prompt="one"),
        _ev(2, "prompt:submit", prompt="two"),
    ]
    t = _turns(spark, rows)
    assert t[("s1", 1)]["status"] == "completed"
    assert t[("s1", 2)]["status"] == "active"  # unclosed at EOF stays visible


def test_unmatched_post_dropped_and_running_tool_survives(spark):
    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(2, "tool:post", tool_name="Ghost"),  # no matching pre → ignored
        _ev(3, "tool:pre", tool_name="Slow"),
    ]
    t = _turns(spark, rows)[("s1", 1)]
    (tool,) = t["tools"]
    assert tool["name"] == "Slow"
    assert tool["status"] == "running"  # still running in the active turn


def test_parallel_group_matching_first_running_wins(spark):
    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(2, "tool:pre", tool_name="T", parallel_group_id="g1"),
        _ev(3, "tool:pre", tool_name="T", parallel_group_id="g2"),
        _ev(
            4,
            "tool:post",
            tool_name="T",
            parallel_group_id="g2",
            result={"success": True, "output": "second", "error": None},
        ),
        _ev(5, "session:end"),
    ]
    t = _turns(spark, rows)[("s1", 1)]
    by_gid = {tool["parallel_group_id"]: tool for tool in t["tools"]}
    assert by_gid["g2"]["status"] == "completed"
    # session closed while g1 still running → reference leaves it "running"
    # (trace_aggregator.py:195-204 never rewrites tool status at close)
    assert by_gid["g1"]["status"] == "running"


def test_error_result_and_truncation(spark):
    long_msg = "x" * 1500
    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(2, "tool:pre", tool_name="B"),
        _ev(
            3,
            "tool:post",
            tool_name="B",
            result={"success": False, "output": None, "error": {"message": long_msg}},
        ),
        _ev(4, "session:end"),
    ]
    (tool,) = _turns(spark, rows)[("s1", 1)]["tools"]
    assert tool["status"] == "error"
    assert tool["error"].endswith("... (truncated)")
    assert len(tool["error"]) == 1000 + len("... (truncated)")


def test_sub_agent_child_session_extraction(spark):
    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(
            2,
            "tool:pre",
            tool_name="Task",
            tool_input={"agent": "researcher"},
        ),
        _ev(
            3,
            "tool:post",
            tool_name="Task",
            result={
                "success": True,
                "output": '{"session_id": "child-42"}',
                "error": None,
            },
        ),
        _ev(4, "session:end"),
    ]
    (tool,) = _turns(spark, rows)[("s1", 1)]["tools"]
    assert tool["is_sub_agent"] is True
    assert tool["sub_agent_name"] == "researcher"
    assert tool["child_session_id"] == "child-42"


def test_unparseable_timestamp_maps_to_zero(spark):
    rows = [_ev(1, "prompt:submit", ts="not-a-time", prompt="p")]
    t = _turns(spark, rows)[("s1", 1)]
    assert t["start_time"] == 0


def test_events_before_first_prompt_ignored_and_empty_ok(spark):
    rows = [_ev(1, "tool:pre", tool_name="Early")]
    assert _turns(spark, rows) == {}
    import pandas as pd  # noqa: F401  (empty-group path exercises schema)

    from lakehouse_spark.schemas import TRACE_EVENT as sch

    empty = spark.createDataFrame([], sch)
    assert aggregate_trace(empty).count() == 0


def test_multi_session_independence(spark):
    rows = [
        _ev(1, "prompt:submit", session="a", prompt="pa"),
        _ev(1, "prompt:submit", session="b", prompt="pb"),
        _ev(2, "session:end", session="a"),
    ]
    t = _turns(spark, rows)
    assert t[("a", 1)]["status"] == "completed"
    assert t[("b", 1)]["status"] == "active"


def test_trace_metrics(spark):
    from lakehouse_spark.operators.sessionize import trace_metrics

    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(2, "tool:pre", "2026-01-01T00:00:01+00:00", tool_name="Fast"),
        _ev(
            3,
            "tool:post",
            "2026-01-01T00:00:02+00:00",
            tool_name="Fast",
            result={"success": True, "output": "o", "error": None},
        ),
        _ev(4, "tool:pre", "2026-01-01T00:00:03+00:00", tool_name="Slow"),
        _ev(
            5,
            "tool:post",
            "2026-01-01T00:00:09+00:00",
            tool_name="Slow",
            result={"success": True, "output": "o", "error": None},
        ),
        _ev(6, "thinking:delta", delta="t1"),
        _ev(7, "session:end"),
    ]
    df = spark.createDataFrame(rows, TRACE_EVENT)
    m = trace_metrics(aggregate_trace(df)).collect()[0].asDict()
    assert m["total_tools"] == 2
    assert m["longest_tool"] == "Slow"
    assert m["max_tool_duration"] == 6000
    assert m["avg_tool_duration"] == 3500
    assert m["total_thinking"] == 1


def _trace_metrics_three_joins(turns):
    """The former A3 formulation, kept as the reference: three reads of
    ``turns`` (tools, finished durations, thinking) joined on session_id."""
    from pyspark.sql import functions as F

    tools = turns.select(
        "session_id", F.explode_outer("tools").alias("t")
    ).select("session_id", "t.*")
    thinking = turns.select(
        "session_id", F.explode_outer("thinking").alias("th")
    ).groupBy("session_id").agg(
        F.count(F.col("th.start_time")).alias("total_thinking")
    )
    metrics = tools.groupBy("session_id").agg(
        F.count(F.col("id")).alias("total_tools")
    )
    durations = tools.filter(F.col("duration").isNotNull()).groupBy(
        "session_id"
    ).agg(
        F.round(F.avg("duration"), 4).alias("avg_tool_duration"),
        F.max(
            F.struct(
                F.col("duration").alias("d"), F.col("id").alias("i"),
                F.col("name").alias("n"),
            )
        ).alias("__mx"),
    ).select(
        "session_id",
        "avg_tool_duration",
        F.col("__mx.d").alias("max_tool_duration"),
        F.col("__mx.n").alias("longest_tool"),
    )
    return metrics.join(durations, "session_id", "left").join(
        thinking, "session_id", "left"
    )


def _tool(tid, name, duration):
    return {"id": tid, "name": name, "duration": duration}


def _think(start):
    return {"start_time": start, "content": "x"}


def _turn_frame(spark, turns):
    from lakehouse_spark.schemas import TRACE_TURN

    return spark.createDataFrame(
        [(s, i, None, "completed", None, None, tools, th)
         for i, (s, tools, th) in enumerate(turns)],
        TRACE_TURN,
    )


def test_trace_metrics_one_fold_matches_three_joins(spark):
    from lakehouse_spark.operators.sessionize import trace_metrics

    turns = _turn_frame(
        spark,
        [
            ("null_lists", None, None),
            ("empty_lists", [], []),
            ("unfinished", [_tool("tool_1", "A", None), _tool("tool_2", "B", None)],
             [_think(1)]),
            # thinking with a NULL start_time is not counted, and a turn's
            # thinking counts once however many tools the turn holds
            ("thinking", [_tool("tool_1", "A", 1.0), _tool("tool_2", "B", 2.0),
                          _tool("tool_3", "C", None)],
             [_think(None), _think(5), _think(6)]),
            ("thinking", None, [_think(7)]),
            ("thinking", [], None),
            # equal durations: the larger tool id wins
            ("ties", [_tool("tool_1", "A", 5.0), _tool("tool_2", "B", 5.0),
                      _tool("tool_3", "C", 1.0)], None),
            # a NULL tool id is not counted, but its duration is averaged
            ("null_id", [_tool(None, "N", 3.0), _tool("tool_1", "A", 1.0)], []),
        ],
    )
    new = trace_metrics(turns)
    old = _trace_metrics_three_joins(turns)
    assert [(f.name, f.dataType) for f in new.schema] == [
        (f.name, f.dataType) for f in old.schema
    ]
    got = {r.session_id: r.asDict() for r in new.collect()}
    assert got == {r.session_id: r.asDict() for r in old.collect()}
    assert got["ties"]["longest_tool"] == "B"
    assert got["thinking"]["total_thinking"] == 3
    assert got["null_id"]["total_tools"] == 1
    assert got["null_id"]["avg_tool_duration"] == 2.0
    assert got["unfinished"]["avg_tool_duration"] is None
    assert got["null_lists"]["total_thinking"] == 0


def test_trace_metrics_null_session_id_is_one_group(spark):
    """One aggregate gives the NULL session_id group its real metrics; the
    former join form returned NULLs there (NULL keys never join)."""
    from lakehouse_spark.operators.sessionize import trace_metrics

    turns = _turn_frame(
        spark,
        [(None, [_tool("tool_1", "A", 2.0), _tool("tool_2", "B", 4.0)],
          [_think(1)])],
    )
    (row,) = trace_metrics(turns).collect()
    assert row.asDict() == {
        "session_id": None, "total_tools": 2, "avg_tool_duration": 3.0,
        "max_tool_duration": 4.0, "longest_tool": "B", "total_thinking": 1,
    }
    (old,) = _trace_metrics_three_joins(turns).collect()
    assert old.total_tools == 2 and old.longest_tool is None


def test_absent_result_stored_as_empty_string(spark):
    # Reference: result = data.get("result", "") → non-dict → str(result)
    # (trace_aggregator.py:157,177-179): a tool:post with no result payload
    # completes the tool with result "".
    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(2, "tool:pre", tool_name="B"),
        _ev(3, "tool:post", tool_name="B"),
        _ev(4, "session:end"),
    ]
    (tool,) = _turns(spark, rows)[("s1", 1)]["tools"]
    assert tool["status"] == "completed"
    assert tool["result"] == ""
    assert tool["error"] is None


def test_success_defaults_true_when_absent(spark):
    # result dict without success → result.get("success", True) → completed.
    rows = [
        _ev(1, "prompt:submit", prompt="p"),
        _ev(2, "tool:pre", tool_name="B"),
        _ev(
            3,
            "tool:post",
            tool_name="B",
            result={"success": None, "output": "out", "error": None},
        ),
        _ev(4, "session:end"),
    ]
    (tool,) = _turns(spark, rows)[("s1", 1)]["tools"]
    assert tool["status"] == "completed"
    assert tool["result"] == "out"


def test_child_session_from_dict_output_direct_fold():
    # The reference reads result.output as a DICT and takes its session_id
    # (trace_aggregator.py:160-165). The Spark schema types output as
    # string, so exercise the dict path through the pandas fold directly —
    # the same fold the streaming replay feeds with raw JSON dicts.
    import pandas as pd

    from lakehouse_spark.operators.sessionize import _fold_session

    rows = [
        dict(session_id="s", ts="2026-01-01T00:00:00+00:00", lvl="INFO",
             event="prompt:submit", data={"prompt": "p"}, encounter_seq=1),
        dict(session_id="s", ts="2026-01-01T00:00:01+00:00", lvl="INFO",
             event="tool:pre",
             data={"tool_name": "Task", "tool_input": {"agent": "worker"}},
             encounter_seq=2),
        dict(session_id="s", ts="2026-01-01T00:00:02+00:00", lvl="INFO",
             event="tool:post",
             data={"tool_name": "Task",
                   "result": {"success": True,
                              "output": {"session_id": "child-7"}}},
             encounter_seq=3),
        dict(session_id="s", ts="2026-01-01T00:00:03+00:00", lvl="INFO",
             event="session:end", data={}, encounter_seq=4),
    ]
    out = _fold_session(pd.DataFrame(rows))
    (tool,) = out.iloc[0]["tools"]
    assert tool["sub_agent_name"] == "worker"
    assert tool["child_session_id"] == "child-7"
    # dict output is stored stringified (ref str(result.get("output", "")))
    assert tool["result"] == str({"session_id": "child-7"})


def _parity_events():
    """Event stream exercising every cross-turn coupling of the per-turn
    fold: tools spanning many turns (global tool ordinals), implicit
    closes, session:end mid-stream, unmatched posts, thinking, trailing
    active turn, pre-prompt garbage."""
    rows = [_ev(0, "tool:pre", session="sA", tool_name="Ghost")]  # pre-prompt
    seq = 1
    for s, n_turns in (("sA", 4), ("sB", 2)):
        for k in range(n_turns):
            rows.append(_ev(seq, "prompt:submit", session=s, prompt=f"p{k}")); seq += 1
            rows.append(_ev(seq, "tool:pre", session=s, tool_name="Bash")); seq += 1
            if k % 2 == 0:
                rows.append(_ev(seq, "tool:post", session=s, tool_name="Bash",
                                result={"success": True, "output": "ok", "error": None})); seq += 1
                rows.append(_ev(seq, "tool:pre", session=s, tool_name="Read")); seq += 1
            rows.append(_ev(seq, "thinking:delta", session=s, delta=f"t{k}")); seq += 1
            rows.append(_ev(seq, "tool:post", session=s, tool_name="Nope")); seq += 1  # unmatched
        if s == "sB":
            rows.append(_ev(seq, "session:end", session=s)); seq += 1
    return rows


def _edge_events():
    """One log holding each case the per-turn pre-pass must get right."""
    return [
        _ev(0, "thinking:delta", delta="early"),  # before the first prompt
        _ev(1, "tool:pre", tool_name="A"),  # before the first prompt
        _ev(2, "prompt:submit", prompt="p1"),
        _ev(3, "prompt:submit", prompt="p2"),  # back-to-back prompts
        _ev(4, "tool:post", tool_name="A", result=_OK),  # early post: dropped
        _ev(5, "tool:pre", tool_name="A", parallel_group_id="g"),
        _ev(6, "tool:pre", tool_name="A", parallel_group_id="g"),  # same key
        _ev(7, "tool:post", tool_name="A", parallel_group_id="g", result=_OK),
        _ev(8, "session:end"),
        _ev(9, "tool:pre", tool_name="B"),  # strays after the turn's end
        _ev(10, "tool:post", tool_name="A", parallel_group_id="g", result=_OK),
        _ev(11, "thinking:delta", delta="late"),
        _ev(12, "session:end"),
        _ev(13, "prompt:submit", prompt="p3"),
        _ev(14, "tool:pre", tool_name="B"),  # tool_3: strays did not count
        _ev(15, None, ts=None, session=None),  # NULL fields, NULL session
        _ev(16, "prompt:submit", ts=None, session=None),
        _ev(17, "tool:pre", ts="bad", session=None, tool_name="task",
            tool_input={"agent": "w"}),
    ]


def _snap(turns):
    return sorted(
        (r.asDict(recursive=True) for r in turns.collect()),
        key=lambda t: (t["session_id"] is None, t["session_id"] or "", t["turn_id"]),
    )


def _whole_session_fold(df):
    """The reference: _fold_session over each whole session."""
    return df.groupBy("session_id").applyInPandas(
        lambda pdf: _fold_session(pdf), schema=TRACE_TURN
    )


_OK = {"success": True, "output": "ok", "error": None}
_trace_logs = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s1", "s2", None]),
        st.sampled_from(
            ["prompt:submit", "tool:pre", "tool:post", "thinking:delta",
             "session:end", None]
        ),
        st.sampled_from(
            ["2026-01-01T00:00:01+00:00", "2026-01-01T00:00:04.5+00:00",
             "bad", None]
        ),
        st.fixed_dictionaries(
            {
                "prompt": st.sampled_from(["p", None]),
                "tool_name": st.sampled_from(["A", "task", None]),
                "tool_input": st.sampled_from([None, {"agent": "w"}]),
                "parallel_group_id": st.sampled_from(["g", None]),
                "delta": st.sampled_from(["d", None]),
                "result": st.sampled_from(
                    [None, _OK,
                     {"success": False, "output": None, "error": {"message": "x"}},
                     {"success": None, "output": '{"session_id": "c"}', "error": None}]
                ),
            }
        ),
    ),
    min_size=10,
    max_size=40,
).map(
    lambda evs: [
        (sid, ts, "INFO", ev, data, seq)
        for seq, (sid, ev, ts, data) in enumerate(evs)
    ]
)


@given(_trace_logs)
@example(_parity_events())
@example(_edge_events())
@settings(
    max_examples=60 if os.environ.get("PYTEST_FULL") == "1" else 12,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_aggregate_trace_equals_whole_session_fold(spark, rows):
    """The per-turn fold equals the whole-session fold on every TRACE_TURN
    field, tool ids included, for any log: events before the first
    prompt, back-to-back prompts, strays after a session:end, unmatched
    and early posts, same-key parallel tools, NULL fields and sessions."""
    df = spark.createDataFrame(rows, TRACE_EVENT)
    assert _snap(aggregate_trace(df)) == _snap(_whole_session_fold(df))


def test_per_turn_fold_plan_and_no_probe_job(spark, count_jobs):
    """The giant-session bound, cheaply: the plan folds (session_id, turn)
    groups, one FlatMapGroupsInPandas with two grouping keys behind one
    exchange, and building the fold runs no Spark job (no size probe)."""
    df = spark.createDataFrame(_parity_events(), TRACE_EVENT)
    n, turns = count_jobs(lambda: aggregate_trace(df))
    assert n == 0
    plan = turns._jdf.queryExecution().executedPlan().toString()
    (keys,) = re.findall(r"FlatMapGroupsInPandas \[([^\]]*)\]", plan)
    assert len(keys.split(", ")) == 2
    assert plan.count("Exchange") == 1


def test_giant_session_matches_whole_session_fold(spark):
    """One 20k-event session among many normal ones: every pandas group is
    one TURN (~10 events), not the giant session, and the output equals
    the whole-session fold, global tool ordinals and the implicit close of
    non-final turns included."""
    from pyspark.sql import functions as F

    from lakehouse_spark.operators.sessionize import _TRACE_TURN_ROWS_SQL

    rows = []
    seq = 0
    for k in range(2000):  # giant session: 2000 turns x 10 events
        rows.append(_ev(seq, "prompt:submit", session="giant", prompt=f"p{k}")); seq += 1
        for j in range(4):
            rows.append(_ev(seq, "tool:pre", session="giant", tool_name=f"T{j}")); seq += 1
            rows.append(_ev(seq, "tool:post", session="giant", tool_name=f"T{j}",
                            result={"success": True, "output": "y", "error": None})); seq += 1
        rows.append(_ev(seq, "thinking:delta", session="giant", delta="d")); seq += 1
    for s in range(50):  # normal sessions
        rows.append(_ev(seq, "prompt:submit", session=f"n{s}", prompt="q")); seq += 1
        rows.append(_ev(seq, "session:end", session=f"n{s}")); seq += 1
    df = spark.createDataFrame(rows, TRACE_EVENT)

    # the fold's groups are (session, turn): the largest is one turn
    max_group = (
        spark.sql(_TRACE_TURN_ROWS_SQL, events=df)
        .groupBy("session_id", "__turn").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert max_group == 10  # one turn, not 20k

    turns = _snap(aggregate_trace(df))
    assert turns == _snap(_whole_session_fold(df))
    assert len(turns) == 2050
    giant = {t["turn_id"]: t for t in turns if t["session_id"] == "giant"}
    assert len(giant) == 2000
    # non-final turns closed by the next prompt; final stays active
    assert giant[1]["status"] == "completed"
    assert giant[2000]["status"] == "active"
    # global tool ordinals: turn k holds tools 4(k-1)+1..4k
    assert [t["id"] for t in giant[3]["tools"]] == [
        "tool_9", "tool_10", "tool_11", "tool_12"
    ]

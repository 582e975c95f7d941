"""Batch/streaming parity for marker-based sessionization (ST8):
`stream_trace_turns` must emit exactly the turns the batch fold
(`aggregate_trace`) closes, including when a turn's events span
micro-batches, and its per-session state must be evicted after the
retention horizon.
"""

from __future__ import annotations

import json

from lakehouse_spark.operators.sessionize import aggregate_trace
from lakehouse_spark.schemas import TRACE_EVENT
from lakehouse_spark.sources import jsonl
from lakehouse_spark.streaming.live import stream_trace_turns


def _ev(seq, session, event, ts, **data):
    return {
        "session_id": session,
        "ts": ts,
        "lvl": "INFO",
        "event": event,
        "data": data or None,
        "encounter_seq": seq,
    }


# Turn 1 of s1 spans the two files: tool:pre in file A, tool:post + close in
# file B — forces the state buffer to carry an open turn across batches.
FILE_A = [
    _ev(1, "s1", "prompt:submit", "2026-01-01T00:00:00+00:00", prompt="first"),
    _ev(2, "s1", "tool:pre", "2026-01-01T00:00:01+00:00", tool_name="Bash"),
    _ev(1, "s2", "prompt:submit", "2026-01-01T00:00:00+00:00", prompt="other"),
]
FILE_B = [
    _ev(
        3,
        "s1",
        "tool:post",
        "2026-01-01T00:00:04+00:00",
        tool_name="Bash",
        result={"success": True, "output": "done", "error": None},
    ),
    _ev(4, "s1", "session:end", "2026-01-01T00:00:05+00:00"),
    _ev(5, "s1", "prompt:submit", "2026-01-01T00:00:06+00:00", prompt="second"),
    _ev(6, "s1", "session:end", "2026-01-01T00:00:07+00:00"),
    _ev(2, "s2", "thinking:delta", "2026-01-01T00:00:01+00:00", delta="hmm"),
]


def _turn_key(row):
    d = row.asDict(recursive=True)
    return (
        d["session_id"],
        d["turn_id"],
        d["user_message"],
        d["status"],
        d["start_time"],
        d["end_time"],
        tuple(
            (t["id"], t["name"], t["status"], t["duration"], t["result"])
            for t in d["tools"]
        ),
        len(d["thinking"]),
    )


class _MemoryState:
    """The GroupState surface the stream fold uses, held in memory."""

    hasTimedOut = False

    def __init__(self):
        self.get = None

    @property
    def exists(self):
        return self.get is not None

    def update(self, value):
        self.get = value

    def setTimeoutDuration(self, ms):
        pass


def _stream_fold():
    """The per-session function ``stream_trace_turns`` hands to
    ``applyInPandasWithState``, captured without starting a stream."""

    class Events:
        def groupBy(self, *cols):
            return self

        def applyInPandasWithState(self, func, **kwargs):
            return func

    return stream_trace_turns(Events())


def test_stream_continues_tool_ids_across_micro_batches():
    """Turn 1 closes in micro-batch 1; turn 2's tool:pre arrives there too
    and its tool:post and session:end in micro-batch 2. The stream must
    number turn 2's tool as the batch fold does (tool_2), not restart the
    tool ordinals when it re-folds the buffered turn."""
    import pandas as pd

    from lakehouse_spark.operators.sessionize import _fold_session

    ok = {"success": True, "output": "ok", "error": None}
    batch_1 = [
        _ev(1, "s1", "prompt:submit", "2026-01-01T00:00:00+00:00", prompt="a"),
        _ev(2, "s1", "tool:pre", "2026-01-01T00:00:01+00:00", tool_name="Bash"),
        _ev(3, "s1", "tool:post", "2026-01-01T00:00:02+00:00", tool_name="Bash",
            result=ok),
        _ev(4, "s1", "session:end", "2026-01-01T00:00:03+00:00"),
        _ev(5, "s1", "prompt:submit", "2026-01-01T00:00:04+00:00", prompt="b"),
        _ev(6, "s1", "tool:pre", "2026-01-01T00:00:05+00:00", tool_name="Read"),
    ]
    batch_2 = [
        _ev(7, "s1", "tool:post", "2026-01-01T00:00:06+00:00", tool_name="Read",
            result=ok),
        _ev(8, "s1", "session:end", "2026-01-01T00:00:07+00:00"),
    ]
    fold, state = _stream_fold(), _MemoryState()
    streamed = [
        turns
        for rows in (batch_1, batch_2)
        for turns in fold(("s1",), iter([pd.DataFrame(rows)]), state)
    ]

    def ids(turns):
        return [(r.turn_id, [t["id"] for t in r.tools]) for r in turns.itertuples()]

    assert [i for turns in streamed for i in ids(turns)] == ids(
        _fold_session(pd.DataFrame(batch_1 + batch_2))
    ) == [(1, ["tool_1"]), (2, ["tool_2"])]


def test_stream_matches_batch_for_closed_turns(spark, tmp_path):
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    (events_dir / "a.jsonl").write_text("\n".join(json.dumps(e) for e in FILE_A))
    (events_dir / "b.jsonl").write_text("\n".join(json.dumps(e) for e in FILE_B))

    # batch reference
    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in FILE_A + FILE_B], TRACE_EVENT
    )
    batch = {_turn_key(r) for r in aggregate_trace(batch_df).collect()}
    batch_closed = {k for k in batch if k[3] != "active"}
    assert len(batch_closed) == 2  # s1 turn 1 + turn 2

    # streaming: one file per micro-batch so s1 turn 1 crosses a batch border
    stream = jsonl.read_jsonl_stream(spark, str(events_dir), TRACE_EVENT)
    q = (
        stream_trace_turns(stream)
        .writeStream.format("memory")
        .queryName("trace_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        _turn_key(r) for r in spark.sql("SELECT * FROM trace_stream").collect()
    }

    # every turn the batch fold closed arrives identically via the stream;
    # the trailing active turn (s2) may also surface if the processing-time
    # timeout fires during the run — when it does, it must match the batch
    # fold's unclosed-turn-at-EOF row exactly
    assert batch_closed <= streamed <= batch


def test_streamed_turns_materialize_to_batch_metrics(spark, tmp_path):
    """Composition: stream_trace_turns → exactly_once_upsert_sink keyed by
    (session, turn) → trace_metrics over the materialized table equals the
    batch trace_metrics for the CLOSED turns. The 'live metrics dashboard'
    pipeline assembled purely from existing pieces."""
    import pyspark.sql.functions as F

    from lakehouse_spark.mutation.store import TableStore
    from lakehouse_spark.operators.sessionize import trace_metrics
    from lakehouse_spark.streaming.live import exactly_once_upsert_sink

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    (events_dir / "a.jsonl").write_text("\n".join(json.dumps(e) for e in FILE_A))
    (events_dir / "b.jsonl").write_text("\n".join(json.dumps(e) for e in FILE_B))

    store = TableStore(spark, str(tmp_path / "turns"), key="turn_key")
    sink = exactly_once_upsert_sink(store)
    stream = jsonl.read_jsonl_stream(spark, str(events_dir), TRACE_EVENT)
    q = (
        stream_trace_turns(stream, timeout_ms=3_600_000)
        .withColumn(
            "turn_key",
            F.concat_ws("#", "session_id", F.col("turn_id").cast("string")),
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_mat"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    live_metrics = {
        r.session_id: r.asDict()
        for r in trace_metrics(store.read().drop("turn_key")).collect()
    }
    batch_df = spark.createDataFrame(
        [tuple(e.values()) for e in FILE_A + FILE_B], TRACE_EVENT
    )
    closed = aggregate_trace(batch_df).filter(F.col("status") != "active")
    batch_metrics = {
        r.session_id: r.asDict() for r in trace_metrics(closed).collect()
    }
    assert live_metrics == batch_metrics
    assert live_metrics["s1"]["total_tools"] == 1


def test_timeout_flush_preserves_turn_numbering(spark, tmp_path):
    """A session flushed by the processing-time timeout must CONTINUE turn
    numbering when it resumes — state.remove() used to reset the counter,
    reissuing turn_id 1 and colliding in any (session, turn)-keyed sink."""
    import json
    import time

    from lakehouse_spark.schemas import TRACE_EVENT
    from lakehouse_spark.sources import jsonl as jl
    from lakehouse_spark.streaming import live

    events_dir = tmp_path / "ev"
    events_dir.mkdir()

    def write(name, rows):
        (events_dir / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def ev(seq, event, **data):
        base = {"prompt": None, "tool_name": None, "tool_input": None,
                "parallel_group_id": None, "delta": None, "result": None}
        base.update(data)
        return {"session_id": "s1", "ts": "2026-01-01T00:00:00+00:00",
                "lvl": "INFO", "event": event, "data": base,
                "encounter_seq": seq}

    write("a.jsonl", [ev(1, "prompt:submit", prompt="first")])  # open turn

    stream = jl.read_jsonl_stream(spark, str(events_dir), TRACE_EVENT)
    q = (
        live.stream_trace_turns(stream, timeout_ms=1)  # flush ASAP
        .writeStream.format("memory")
        .queryName("timeout_numbering")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 90
        # wait for the timeout flush of turn 1. Poll, do NOT
        # processAllAvailable(): with a 1 ms processing-time timeout the
        # state re-arms every batch, so the engine never quiesces and
        # processAllAvailable can block forever (it hangs on the pre-fix
        # code too — verified) — the micro-batches run on their own.
        rows = []
        while not rows and time.monotonic() < deadline:
            time.sleep(0.3)
            rows = spark.sql("SELECT * FROM timeout_numbering").collect()
        assert [r.turn_id for r in rows] == [1]

        # session resumes AFTER the flush: a second prompt + session end
        write("b.jsonl", [
            ev(2, "prompt:submit", prompt="second"),
            ev(3, "session:end"),
        ])
        while len(rows) < 2 and time.monotonic() < deadline:
            time.sleep(0.3)
            rows = spark.sql("SELECT * FROM timeout_numbering").collect()
        by_turn = {r.turn_id: r for r in rows}
        assert sorted(by_turn) == [1, 2], f"turn ids: {sorted(by_turn)}"
        assert by_turn[2].user_message == "second"
        assert by_turn[2].status == "completed"
    finally:
        q.stop()


def test_stream_state_retention_evicts_idle_counter(spark, tmp_path):
    """After retention_ms of full idleness the per-session counter row is
    removed: stateOperators.numRowsTotal returns to 0, so long-running
    streams hold state proportional to ACTIVE sessions, not to every
    session ever seen."""
    import json
    import time

    from lakehouse_spark.schemas import TRACE_EVENT
    from lakehouse_spark.sources import jsonl as jl
    from lakehouse_spark.streaming import live

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    (events_dir / "a.jsonl").write_text(
        json.dumps(
            {
                "session_id": "s1",
                "ts": "2026-01-01T00:00:00+00:00",
                "lvl": "INFO",
                "event": "prompt:submit",
                "data": {"prompt": "hello"},
                "encounter_seq": 1,
            }
        )
        + "\n"
    )

    stream = jl.read_jsonl_stream(spark, str(events_dir), TRACE_EVENT)
    q = (
        live.stream_trace_turns(stream, timeout_ms=100, retention_ms=1500)
        .writeStream.format("memory")
        .queryName("retention_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        # 1) the open turn flushes via the processing-time timeout
        rows = []
        while not rows and time.monotonic() < deadline:
            time.sleep(0.3)
            rows = spark.sql("SELECT * FROM retention_evict").collect()
        assert [r.turn_id for r in rows] == [1]

        # 2) the counter row survives the flush but is evicted once the
        # retention horizon passes — observable in the progress metrics
        def state_rows():
            p = q.lastProgress
            ops = (p or {}).get("stateOperators") or []
            return ops[0]["numRowsTotal"] if ops else None

        seen_one = False
        evicted = False
        while time.monotonic() < deadline:
            n = state_rows()
            if n == 1:
                seen_one = True
            if seen_one and n == 0:
                evicted = True
                break
            time.sleep(0.3)
        assert seen_one, "counter row never observed in state"
        assert evicted, "idle counter row was never evicted"
    finally:
        q.stop()

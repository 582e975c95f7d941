"""Structured Streaming layer (ST1-ST8) + multimodal plumbing tests."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from lakehouse_spark.operators import multimodal
from lakehouse_spark.schemas import MEDIA_ASSET
from lakehouse_spark.sources import jsonl
from lakehouse_spark.streaming import live

EVENT_SCHEMA = "session_id string, ts timestamp, event string, turn_id long"


def _write_events(tmp_path, name, rows):
    d = tmp_path / "events"
    d.mkdir(exist_ok=True)
    (d / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return str(d)


def test_stream_jsonl_availablenow_matches_batch(spark, tmp_path):
    rows = [
        {"session_id": "s1", "ts": "2026-01-01T00:00:00Z", "event": "prompt:submit", "turn_id": 1},
        {"session_id": "s1", "ts": "2026-01-01T00:00:01Z", "event": "tool:pre", "turn_id": 1},
        {"session_id": "s1", "ts": "2026-01-01T00:00:02Z", "event": "tool:post", "turn_id": 1},
        {"session_id": "s2", "ts": "2026-01-01T00:00:03Z", "event": "prompt:submit", "turn_id": 1},
    ]
    path = _write_events(tmp_path, "a.jsonl", rows)
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(EVENT_SCHEMA)

    stream = jsonl.read_jsonl_stream(spark, path, schema)
    assert stream.isStreaming
    stats = live.stream_turn_stats(stream)
    q = (
        stats.writeStream.format("memory")
        .queryName("turns_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (r.session_id, r.turn_id): r.n_events
        for r in spark.sql("SELECT * FROM turns_test").collect()
    }
    assert got == {("s1", 1): 3, ("s2", 1): 1}


def test_emitter_filter_allowlist_and_prefix(spark):
    df = spark.createDataFrame(
        [("prompt:submit",), ("internal:debug",), ("tool:pre",)], "event string"
    )
    got = [r.event for r in live.emitter_filter(df).collect()]
    assert got == ["hook:prompt:submit", "hook:tool:pre"]


def test_fan_out_delivers_same_batch_to_all_sinks(spark, tmp_path):
    path = _write_events(
        tmp_path,
        "b.jsonl",
        [{"session_id": "s1", "ts": "2026-01-01T00:00:00Z", "event": "e", "turn_id": 1}],
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).json(path)
    seen: list[tuple[str, int]] = []

    def mk(name):
        def sink(batch, batch_id):
            seen.append((name, batch.count()))

        return sink

    q = live.fan_out(
        stream,
        [mk("a"), mk("b")],
        checkpoint_dir=str(tmp_path / "ckpt2"),
        trigger_available_now=True,
    )
    q.awaitTermination(60)
    assert ("a", 1) in seen and ("b", 1) in seen


def test_keepalive_heartbeat(spark):
    empty = spark.createDataFrame([], "x int")
    nonempty = spark.createDataFrame([(1,)], "x int")
    clock = {"t": 0.0}
    # silence long enough → heartbeat due exactly once
    assert live.with_keepalive(empty, 0, clock, interval_s=0) is True
    assert live.with_keepalive(nonempty, 1, clock, interval_s=9999) is False


# --- multimodal -------------------------------------------------------------


def _assets(spark):
    rows = [
        ("img1", "image", b"\x00\x10\x90\xff", "image/png", 800, 600, None, {}),
        ("bad1", "image", None, "image/png", 10, 10, None, {}),
        ("vid1", "video", b"\x01\x02", "video/mp4", 1920, 1080, 3.5, {}),
    ]
    return spark.createDataFrame(rows, MEDIA_ASSET)


def test_extract_features_fake_decoder(spark):
    out = {
        r.asset_id: r
        for r in multimodal.extract_features(
            _assets(spark), decoder=multimodal.fake_decoder
        ).collect()
    }
    assert len(out["img1"].feature) == 8
    assert abs(sum(out["img1"].feature) - 1.0) < 1e-6
    assert out["bad1"].feature == []
    assert "payload" not in multimodal.extract_features(
        _assets(spark), decoder=multimodal.fake_decoder
    ).columns


def test_extract_features_stub_raises(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises((Py4JJavaError, Exception)) as exc_info:
        multimodal.extract_features(_assets(spark)).collect()
    assert "decode not available" in str(exc_info.value)


def test_decode_error_recorded_not_fatal(spark):
    def flaky(payload, kind):
        if payload and payload[0] == 1:
            raise ValueError("corrupt frame")
        return [1.0]

    out = {
        r.asset_id: r
        for r in multimodal.extract_features(_assets(spark), decoder=flaky).collect()
    }
    assert out["vid1"].feature is None
    assert "corrupt frame" in out["vid1"].decode_error
    assert out["img1"].feature == [1.0]


def test_frame_sample_and_resize_plans(spark):
    frames = multimodal.frame_sample_plan(
        _assets(spark).filter(F.col("kind") == "video")
    ).collect()
    assert [r.frame_ts for r in frames] == [0.0, 1.0, 2.0]

    resized = {
        r.asset_id: (r.target_width, r.target_height)
        for r in multimodal.resize_plan(
            _assets(spark).filter(F.col("width").isNotNull()), max_side=400
        ).collect()
    }
    assert resized["img1"] == (400, 300)
    assert resized["bad1"] == (10, 10)  # never upscale


def test_emitter_filter_passes_lifecycle_unprefixed(spark):
    df = spark.createDataFrame(
        [("prompt:submit",), ("execution_cancelled",), ("internal:debug",)],
        "event string",
    )
    got = [r.event for r in live.emitter_filter(df).collect()]
    assert got == ["hook:prompt:submit", "execution_cancelled"]


def test_st7_cancel_mid_turn_flushes_open_turn_and_stops_query(spark, tmp_path):
    """ST7: cancelling mid-turn emits the execution_cancelled tombstone into
    the stream, the open turn is flushed as non-completed, and the query
    stops (reference: messages.py:272-278 cancels the execution task)."""
    import json
    import time

    from lakehouse_spark.schemas import TRACE_EVENT
    from lakehouse_spark.sources import jsonl as jl

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    open_turn = [
        {"session_id": "s1", "ts": "2026-01-01T00:00:00+00:00", "lvl": "INFO",
         "event": "prompt:submit", "data": {"prompt": "go"}, "encounter_seq": 1},
        {"session_id": "s1", "ts": "2026-01-01T00:00:01+00:00", "lvl": "INFO",
         "event": "tool:pre", "data": {"tool_name": "Bash"}, "encounter_seq": 2},
    ]
    (events_dir / "a.jsonl").write_text(
        "\n".join(json.dumps(e) for e in open_turn)
    )

    stream = jl.read_jsonl_stream(spark, str(events_dir), TRACE_EVENT)
    q = (
        live.stream_trace_turns(stream, timeout_ms=3_600_000)
        .writeStream.format("memory")
        .queryName("st7_cancel")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # Let the first micro-batch buffer the open turn, then cancel.
        deadline = time.monotonic() + 60
        while q.lastProgress is None and time.monotonic() < deadline:
            time.sleep(0.5)
        live.cancel_execution(
            str(events_dir), "s1", "2026-01-01T00:00:02+00:00", encounter_seq=3
        )
        rows = []
        while not rows and time.monotonic() < deadline:
            time.sleep(0.5)
            rows = spark.sql("SELECT * FROM st7_cancel").collect()
        assert rows, "cancelled turn never flushed"
        (turn,) = rows
        assert turn.status == "active"  # non-completed: execution was killed
        assert turn.user_message == "go"
        (tool,) = turn.tools
        assert tool.status == "running"  # tool never got its post
        # tombstone visible to subscribers of the raw stream
        batch = spark.read.schema(TRACE_EVENT).json(str(events_dir))
        cancels = batch.filter(batch.event == live.CANCELLATION_EVENT).collect()
        assert len(cancels) == 1 and cancels[0].session_id == "s1"
        # stop-the-query path: second cancel passes the live query
        live.cancel_execution(
            str(events_dir), "s1", "2026-01-01T00:00:03+00:00",
            encounter_seq=4, query=q,
        )
        deadline = time.monotonic() + 30
        while q.isActive and time.monotonic() < deadline:
            time.sleep(0.5)
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()


def test_stream_windowed_counts_watermark_finality(spark, tmp_path):
    """Append-mode windowed counts emit a window exactly once — when the
    watermark (max event time - 10 min) passes its end. With events up to
    01:05, the watermark lands at 00:55: the [00:00, 00:30) window is final
    (emitted), [00:30, 01:00) and [01:00, 01:30) are still open (held back).
    This is the bounded-state contract for late data at stream scale."""
    rows = [
        {"session_id": "s1", "ts": "2026-01-01T00:05:00Z", "event": "e", "turn_id": 1},
        {"session_id": "s1", "ts": "2026-01-01T00:20:00Z", "event": "e", "turn_id": 1},
        {"session_id": "s1", "ts": "2026-01-01T00:35:00Z", "event": "e", "turn_id": 1},
        {"session_id": "s1", "ts": "2026-01-01T01:05:00Z", "event": "e", "turn_id": 1},
    ]
    path = _write_events(tmp_path, "w.jsonl", rows)
    from pyspark.sql.types import _parse_datatype_string

    stream = jsonl.read_jsonl_stream(
        spark, path, _parse_datatype_string(EVENT_SCHEMA)
    )
    out = live.stream_windowed_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("windowed_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (str(r.window_start), r.n_events)
        for r in spark.sql("SELECT * FROM windowed_test").collect()
    }
    assert got == {("2026-01-01 00:00:00", 2)}


def test_stream_session_gap_windows(spark, tmp_path):
    """Gap sessions: events 2 min apart merge into one session; a 20-min
    gap starts another. With max event time 00:20 the watermark is 00:10,
    past the first session's close (last event 00:02 + 5 min gap = 00:07),
    so exactly that session is final and emitted in append mode."""
    rows = [
        {"session_id": "u1", "ts": "2026-01-01T00:00:00Z", "event": "e", "turn_id": 1},
        {"session_id": "u1", "ts": "2026-01-01T00:02:00Z", "event": "e", "turn_id": 1},
        {"session_id": "u1", "ts": "2026-01-01T00:20:00Z", "event": "e", "turn_id": 1},
    ]
    path = _write_events(tmp_path, "g.jsonl", rows)
    from pyspark.sql.types import _parse_datatype_string

    stream = jsonl.read_jsonl_stream(
        spark, path, _parse_datatype_string(EVENT_SCHEMA)
    )
    out = live.stream_session_gap_stats(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("gap_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_g"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = [
        (str(r.session_start), str(r.session_end), r.session_id, r.n_events)
        for r in spark.sql("SELECT * FROM gap_test").collect()
    ]
    assert got == [
        ("2026-01-01 00:00:00", "2026-01-01 00:07:00", "u1", 2)
    ]


def test_exactly_once_store_sink_survives_replay(spark, tmp_path):
    """foreachBatch is at-least-once (the last batch replays after
    recovery); the sink's manifest batch-id check must make the append
    idempotent — replaying a committed batch changes nothing."""
    from lakehouse_spark.mutation.store import TableStore

    store = TableStore(spark, str(tmp_path / "tbl"), key="session_id")
    sink = live.exactly_once_store_sink(store)

    b0 = spark.createDataFrame([("s1", 1)], "session_id string, v int")
    b1 = spark.createDataFrame([("s2", 2)], "session_id string, v int")

    sink(b0, 0)
    sink(b1, 1)
    assert store.read().count() == 2
    v_before = store.current_version()

    sink(b1, 1)  # replay of the committed batch → no-op
    assert store.read().count() == 2
    assert store.current_version() == v_before
    assert store.last_txn_version("stream") == 1

    sink(spark.createDataFrame([("s3", 3)], "session_id string, v int"), 2)
    assert store.read().count() == 3


def test_exactly_once_sink_survives_interleaved_commits(spark, tmp_path):
    """The idempotence watermark must be tracked ACROSS versions, not read
    off the head commit only: an interleaved non-stream commit (here an
    upsert) has no batch id of its own, and before the txn carry-forward a
    replay arriving after it double-appended."""
    from lakehouse_spark.mutation.store import TableStore

    store = TableStore(spark, str(tmp_path / "tbl"), key="session_id")
    sink = live.exactly_once_store_sink(store)

    sink(spark.createDataFrame([("s1", 1)], "session_id string, v int"), 0)
    sink(spark.createDataFrame([("s2", 2)], "session_id string, v int"), 1)

    # interleaved NON-stream commit: head manifest is no longer batch 1's
    store.upsert(spark.createDataFrame([("s1", 99)], "session_id string, v int"))
    assert store.read().count() == 2

    sink(spark.createDataFrame([("s2", 2)], "session_id string, v int"), 1)
    assert store.read().count() == 2, "replayed batch double-appended"

    # a second stream under its own app id has an independent watermark
    sink_b = live.exactly_once_store_sink(store, app_id="other_stream")
    sink_b(spark.createDataFrame([("x1", 7)], "session_id string, v int"), 0)
    assert store.read().count() == 3
    sink_b(spark.createDataFrame([("x1", 7)], "session_id string, v int"), 0)
    assert store.read().count() == 3
    assert store.last_txn_version("stream") == 1
    assert store.last_txn_version("other_stream") == 0
    # stream A's watermark still intact after B's commits
    sink(spark.createDataFrame([("s2", 2)], "session_id string, v int"), 1)
    assert store.read().count() == 3


def test_exactly_once_sink_end_to_end_stream(spark, tmp_path):
    """Same sink driven by a real availableNow stream: re-running the query
    with the SAME checkpoint must not duplicate rows."""
    from lakehouse_spark.mutation.store import TableStore

    rows = [
        {"session_id": "s1", "ts": "2026-01-01T00:00:00Z", "event": "e", "turn_id": 1},
        {"session_id": "s2", "ts": "2026-01-01T00:01:00Z", "event": "e", "turn_id": 1},
    ]
    path = _write_events(tmp_path, "x.jsonl", rows)
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(EVENT_SCHEMA)
    store = TableStore(spark, str(tmp_path / "ingest"), key="session_id")
    sink = live.exactly_once_store_sink(store)

    def run():
        q = (
            jsonl.read_jsonl_stream(spark, path, schema)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_eo"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run()
    assert store.read().count() == 2
    run()  # same checkpoint: no new files → no new batches → unchanged
    assert store.read().count() == 2


def test_dedup_ingest_sink_filters_near_dups_across_batches(spark, tmp_path):
    """Streaming curation: the sink must drop near-duplicates of anything
    already ingested (via the accumulated LSH band index) AND within the
    batch (keep-first), append only novel docs, and stay idempotent on
    replay — including a replay arriving after the index advanced."""
    from lakehouse_spark.mutation.store import TableStore

    store = TableStore(spark, str(tmp_path / "docs"), key="doc_id")
    sigs = TableStore(spark, str(tmp_path / "sigs"), key="id")
    sink = live.dedup_ingest_sink(store, sigs)

    base = ("spark shuffles the hash partitioned rows " * 6).strip()
    other = ("an entirely different corpus about pelicans and rivers " * 6).strip()
    third = ("yet another unique document concerning volcanoes today " * 6).strip()

    def batch(*rows):
        return spark.createDataFrame(list(rows), "doc_id long, text string")

    # batch 0: A and B novel; C is a near-dup of A within the batch
    sink(batch((1, base), (2, other), (3, base + " extra")), 0)
    assert sorted(r.doc_id for r in store.read().collect()) == [1, 2]

    # batch 1: near-dup of A (vs index) dropped; novel doc kept
    sink(batch((4, base + " tail"), (5, third)), 1)
    assert sorted(r.doc_id for r in store.read().collect()) == [1, 2, 5]

    # replay of batch 1: fully idempotent
    v = store.current_version()
    sink(batch((4, base + " tail"), (5, third)), 1)
    assert store.current_version() == v
    assert sorted(r.doc_id for r in store.read().collect()) == [1, 2, 5]

    # all-duplicates batch still advances the watermark (cheap replays)
    sink(batch((6, base)), 2)
    assert sorted(r.doc_id for r in store.read().collect()) == [1, 2, 5]
    assert store.last_txn_version("dedup_ingest") == 2


def test_exactly_once_upsert_sink_merges_and_survives_replay(spark, tmp_path):
    """CDC-apply: batches MERGE by key; a replayed batch changes nothing,
    even after an interleaved non-stream commit advanced the version."""
    from lakehouse_spark.mutation.store import TableStore

    store = TableStore(spark, str(tmp_path / "dim"), key="k")
    sink = live.exactly_once_upsert_sink(store)

    def b(*rows):
        return spark.createDataFrame(list(rows), "k string, v int")

    sink(b(("a", 1), ("b", 2)), 0)
    sink(b(("b", 20), ("c", 3)), 1)  # update b, insert c
    assert {(r.k, r.v) for r in store.read().collect()} == {
        ("a", 1), ("b", 20), ("c", 3)
    }
    store.append(b(("z", 99)))  # interleaved non-stream commit
    sink(b(("b", 20), ("c", 3)), 1)  # replay → no-op
    assert {(r.k, r.v) for r in store.read().collect()} == {
        ("a", 1), ("b", 20), ("c", 3), ("z", 99)
    }
    assert store.last_txn_version("stream_upsert") == 1


def test_multimodal_features_flow_into_ann_index(spark, tmp_path):
    """End-to-end media retrieval plumbing: decode (fake) → feature vectors
    → persisted AnnIndex → top-k search. Proves the multimodal feature
    column is shaped right for the similarity tier without any real codec."""
    from lakehouse_spark.operators.similarity import AnnIndex

    rows = [
        (f"img{i}", "image", bytes([i, 2 * i % 256, 7]), "image/png",
         64, 64, None, {})
        for i in range(40)
    ]
    assets = spark.createDataFrame(rows, MEDIA_ASSET)
    feats = (
        multimodal.extract_features(assets, decoder=multimodal.fake_decoder)
        .filter(F.size("feature") > 0)
        .select(
            F.regexp_replace("asset_id", "img", "").cast("long").alias("vec_id"),
            F.col("feature").cast("array<double>").alias("embedding"),
        )
    )
    idx = AnnIndex(spark, str(tmp_path / "media_ann"))
    idx.build(feats, n_clusters=8, m=4, ksub=16, kmeans_iters=2, pq_iters=4)
    out = idx.search(
        feats.filter(F.col("vec_id") < 3), k=3, nprobe=4, corpus=feats
    ).collect()
    assert len(out) == 9  # 3 queries x k=3
    assert all(r.query_id != r.neighbor_id for r in out)


def test_stream_windowed_distinct_matches_batch(spark, tmp_path):
    """HLL++ is order-independent and mergeable, so the streamed per-window
    approx distinct must equal the batch computation on the same rows —
    across micro-batch boundaries."""
    rows_a = [
        {"session_id": f"u{i % 7}", "ts": f"2026-01-01T00:{i:02d}:00Z",
         "event": "e", "turn_id": 1}
        for i in range(20)
    ]
    rows_b = [
        {"session_id": f"u{i % 5}", "ts": f"2026-01-01T00:{40 + i:02d}:00Z",
         "event": "e", "turn_id": 1}
        for i in range(15)
    ]
    d = tmp_path / "events"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows_a))
    (d / "b.jsonl").write_text("\n".join(json.dumps(r) for r in rows_b))
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(EVENT_SCHEMA)
    stream = jsonl.read_jsonl_stream(spark, str(d), schema)
    q = (
        live.stream_windowed_distinct(stream, "session_id")
        .writeStream.format("memory")
        .queryName("wd_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_wd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    streamed = {
        (str(r.window_start), r.approx_distinct)
        for r in spark.sql("SELECT * FROM wd_test").collect()
    }
    batch = {
        (str(r.window_start), r.approx_distinct)
        for r in live.stream_windowed_distinct(
            spark.read.schema(schema).json(str(d)), "session_id"
        ).collect()
    }
    assert streamed == batch and len(streamed) == 2
    # small cardinalities: HLL++ is exact here (7 and 5 uniques)
    assert {n for _, n in streamed} == {7, 5}


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (purchase x clicks in the preceding
    hour): the streaming availableNow result must equal the same join run
    as a plain batch query, and state stays watermark-bounded by
    construction (both sides watermarked + closed range condition)."""
    import json as _json

    rows = [
        {"user_id": "u1", "ts": "2026-01-01T10:00:00Z", "kind": "click", "value": 1.0},
        {"user_id": "u1", "ts": "2026-01-01T10:30:00Z", "kind": "click", "value": 2.0},
        {"user_id": "u1", "ts": "2026-01-01T11:00:00Z", "kind": "purchase", "value": 9.0},
        # click exactly at the lookback edge (10:00 for an 11:00 purchase):
        # included — closed interval [ts - 1h, ts].
        {"user_id": "u2", "ts": "2026-01-01T10:00:00Z", "kind": "click", "value": 3.0},
        {"user_id": "u2", "ts": "2026-01-01T11:00:00Z", "kind": "purchase", "value": 8.0},
        # click 61 minutes before: excluded.
        {"user_id": "u3", "ts": "2026-01-01T09:59:00Z", "kind": "click", "value": 4.0},
        {"user_id": "u3", "ts": "2026-01-01T11:00:00Z", "kind": "purchase", "value": 7.0},
        # click AFTER the purchase: excluded.
        {"user_id": "u4", "ts": "2026-01-01T11:30:00Z", "kind": "click", "value": 5.0},
        {"user_id": "u4", "ts": "2026-01-01T11:00:00Z", "kind": "purchase", "value": 6.0},
    ]
    src = tmp_path / "ij"
    src.mkdir()
    (src / "events.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows) + "\n"
    )
    schema = "user_id string, ts timestamp, kind string, value double"

    def split(df):
        clicks = df.filter(F.col("kind") == "click").select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        purchases = df.filter(F.col("kind") == "purchase").select(
            "user_id", "ts", F.col("value").alias("purchase_value")
        )
        return clicks, purchases

    stream = spark.readStream.schema(schema).json(str(src))
    s_clicks, s_purchases = split(stream)
    joined = live.stream_interval_join(
        s_purchases, s_clicks, "user_id", "ts", "click_ts", lookback="1 hour"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ij_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.click_value)
        for r in spark.sql("SELECT * FROM ij_test").collect()
    }

    batch = spark.read.schema(schema).json(str(src))
    b_clicks, b_purchases = split(batch)
    cond = (
        (b_purchases.user_id == b_clicks.user_id)
        & (b_clicks.click_ts <= b_purchases.ts)
        & (b_clicks.click_ts >= b_purchases.ts - F.expr("INTERVAL 1 HOUR"))
    )
    want = {
        (r.user_id, r.click_value)
        for r in b_purchases.join(b_clicks, cond)
        .select(b_purchases.user_id, "click_value")
        .collect()
    }
    assert got == want == {("u1", 1.0), ("u1", 2.0), ("u2", 3.0)}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate ids inside the horizon are
    suppressed, and the streaming result matches the batch dropDuplicates
    answer on the same input."""
    import json as _json

    rows = [
        {"id": 1, "ts": "2026-01-01T10:00:00Z", "v": "a"},
        {"id": 1, "ts": "2026-01-01T10:05:00Z", "v": "a-dup"},
        {"id": 2, "ts": "2026-01-01T10:10:00Z", "v": "b"},
        {"id": 1, "ts": "2026-01-01T10:20:00Z", "v": "a-dup2"},
        {"id": 3, "ts": "2026-01-01T10:30:00Z", "v": "c"},
    ]
    src = tmp_path / "dd"
    src.mkdir()
    (src / "events.jsonl").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    schema = "id long, ts timestamp, v string"

    stream = spark.readStream.schema(schema).json(str(src))
    out = live.stream_dedup(stream, ["id"], "ts", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("dd_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.id for r in spark.sql("SELECT * FROM dd_test").collect())
    want = sorted(
        r.id
        for r in spark.read.schema(schema)
        .json(str(src))
        .dropDuplicates(["id"])
        .collect()
    )
    assert got == want == [1, 2, 3]


def test_stream_interval_join_left_outer_emits_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: an unmatched purchase emits
    with null click columns once the watermark passes its join window —
    the state-finalization behavior that distinguishes outer stream joins
    from inner ones."""
    import json as _json

    rows = [
        {"user_id": "u1", "ts": "2026-01-01T10:30:00Z", "kind": "click", "value": 1.0},
        {"user_id": "u1", "ts": "2026-01-01T11:00:00Z", "kind": "purchase", "value": 9.0},
        # u2 purchase has NO click; later events push the watermark far past
        # its window so the outer row can finalize.
        {"user_id": "u2", "ts": "2026-01-01T11:00:00Z", "kind": "purchase", "value": 8.0},
        {"user_id": "u3", "ts": "2026-01-02T12:00:00Z", "kind": "click", "value": 2.0},
        {"user_id": "u3", "ts": "2026-01-02T12:30:00Z", "kind": "purchase", "value": 7.0},
    ]
    src = tmp_path / "oj"
    src.mkdir()
    (src / "events.jsonl").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    schema = "user_id string, ts timestamp, kind string, value double"

    stream = spark.readStream.schema(schema).json(str(src))
    clicks = stream.filter(F.col("kind") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("value").alias("click_value")
    ).withWatermark("click_ts", "10 minutes")
    purchases = stream.filter(F.col("kind") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    ).withWatermark("ts", "10 minutes")
    p, c = purchases.alias("p"), clicks.alias("c")
    cond = (
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.click_ts") <= F.col("p.ts"))
        & (F.col("c.click_ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
    )
    joined = p.join(c, cond, "left_outer").select(
        F.col("p.user_id").alias("user_id"), "purchase_value", "click_value"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("oj_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "oj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.purchase_value, r.click_value)
        for r in spark.sql("SELECT * FROM oj_test").collect()
    }
    assert ("u1", 9.0, 1.0) in got
    assert ("u3", 7.0, 2.0) in got
    # the unmatched purchase must appear exactly once, with nulls
    assert ("u2", 8.0, None) in got
    assert len(got) == 3


def test_stream_trending_terms_matches_batch(spark, tmp_path):
    """Windowed term counts over a doc stream equal the same computation
    in batch, and the downstream top-k over closed windows is stable."""
    import json as _json

    rows = [
        {"ts": "2026-01-01T10:05:00Z", "text": "spark spark window"},
        {"ts": "2026-01-01T10:20:00Z", "text": "spark merge"},
        {"ts": "2026-01-01T11:10:00Z", "text": "window window window"},
    ]
    src = tmp_path / "tt"
    src.mkdir()
    (src / "docs.jsonl").write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    # append mode emits a window only after the watermark passes it; the
    # watermark advances BETWEEN micro-batches, so a second file with a
    # far-future doc pushes both earlier windows closed (its own window
    # stays open and must NOT appear).
    (src / "late.jsonl").write_text(
        _json.dumps({"ts": "2026-01-01T16:00:00Z", "text": "sentinel"}) + "\n"
    )
    schema = "ts timestamp, text string"

    stream = spark.readStream.schema(schema).json(str(src))
    out = live.stream_trending_terms(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tt_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "tt_ckpt"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.term): r.n
        for r in spark.sql("SELECT * FROM tt_test").collect()
    }
    batch = spark.read.schema(schema).json(str(src / "docs.jsonl"))
    want = {
        (str(r.window_start), r.term): r.n
        for r in live.stream_trending_terms(batch).collect()
    }
    assert got == want
    assert not any("16:00:00" in w for w, _ in got)  # open window withheld
    assert got[("2026-01-01 10:00:00", "spark")] == 3
    assert got[("2026-01-01 11:00:00", "window")] == 3


# -- cancel_execution's drain accepts only a micro-batch whose trigger
# started after the tombstone write as proof it was consumed -------------


class _FakeQuery:
    """lastProgress replays a scripted sequence; stop() records itself."""

    def __init__(self, progresses):
        self._progresses = list(progresses)
        self.stopped = False

    @property
    def lastProgress(self):
        if len(self._progresses) > 1:
            return self._progresses.pop(0)
        return self._progresses[0]

    def stop(self):
        self.stopped = True


def _iso(offset_sec: float) -> str:
    from datetime import datetime, timedelta, timezone

    t = datetime.now(timezone.utc) + timedelta(seconds=offset_sec)
    return t.isoformat().replace("+00:00", "Z")


def test_cancel_drain_skips_preflight_batch(tmp_path):
    """A batch that STARTED before the tombstone write (listed its files
    pre-tombstone) must not satisfy the drain even though its batchId
    advanced and it consumed input — the old break condition's exact
    false positive."""
    import time

    from lakehouse_spark.streaming.live import cancel_execution

    stale = {"batchId": 7, "numInputRows": 3, "timestamp": _iso(-30)}
    q = _FakeQuery([stale])
    t0 = time.monotonic()
    cancel_execution(
        str(tmp_path), "s1", "2024-01-01T00:00:00Z", 99, query=q,
        drain_timeout_sec=1.0,
    )
    # never satisfied -> waited out the full (short) drain budget
    assert time.monotonic() - t0 >= 0.9
    assert q.stopped


def test_cancel_drain_accepts_post_tombstone_batch(tmp_path):
    import time

    from lakehouse_spark.streaming.live import cancel_execution

    stale = {"batchId": 7, "numInputRows": 3, "timestamp": _iso(-30)}
    fresh = {"batchId": 8, "numInputRows": 1, "timestamp": _iso(5)}
    q = _FakeQuery([stale, stale, fresh])
    t0 = time.monotonic()
    path = cancel_execution(
        str(tmp_path), "s1", "2024-01-01T00:00:00Z", 99, query=q,
        drain_timeout_sec=30.0,
    )
    assert time.monotonic() - t0 < 10  # broke on the fresh batch, not timeout
    assert q.stopped
    assert os.path.exists(path)
